"""Streaming variants of the quality battery.

The reference is a pure batch sweep (SURVEY §2.11) — these exist for the
ingest-time deployment mode of the same checks: run the row-level battery
as documents stream in from the crawler, emit failure records and windowed
per-source metrics continuously.

Design: all row-level checks are stateless projections → identical code
paths to batch (same rule exprs). Stateful pieces use the engine's
watermark machinery:
- windowed metrics: groupBy(window(...)) + watermark for late data;
- sessionization: session_window (the streaming analog of the batch
  lag/cumsum sessionizer in operators/windows.py).

Corpus-level dedup (windows over the whole history) does NOT live in
stream state — at 10^12 docs the dedup index is a join against a
compacted snapshot. `dedup_snapshot_sink` implements exactly that: the
snapshot store is the compacted index, each micro-batch anti-joins its
committed hash table and appends survivors + hashes in one atomic
transaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inspectehr_spark.rules import Rule
from inspectehr_spark.operators.checks import run_battery


def stream_failure_log(
    stream: DataFrame,
    rules: list[Rule],
    url_col: str = "url",
    source_col: str = "source",
) -> DataFrame:
    """Stateless battery over a streaming DataFrame — run_battery works
    unchanged because it is a pure projection + explode."""
    return run_battery(
        stream, rules, url_col=url_col, doc_id_col="doc_id", source_col=source_col
    )


def windowed_metrics(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    group_col: str = "source",
    window: str = "1 hour",
    watermark: str = "2 hours",
    fail_col: str = "failed",
) -> DataFrame:
    """Per (group, event-time window) n_checked / n_failed with late-data
    tolerance — the streaming metrics table (append-mode sink)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.col(fail_col).cast("long")).alias("n_failed"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "n_checked",
            "n_failed",
        )
    )


def stream_first_seen(
    stream: DataFrame, key_col: str = "url", order_col: str | None = None
) -> DataFrame:
    """Streaming exact-dedup: emit only the FIRST occurrence of each key
    across the stream's lifetime — the ingest-time analog of the batch
    keep-first window (operators/dedup.exact_duplicates), implemented as a
    custom stateful operator with applyInPandasWithState.

    Within a micro-batch the survivor is chosen by `order_col` ascending
    (defaults to the first non-key column — id/ts in the quality stream),
    matching the batch analog's deterministic lowest-id keep; arrival order
    inside a batch is NOT deterministic, so emitting the first arriving row
    would make the survivor replay-dependent (ADVICE r2 #4). Across
    micro-batches first-batch-wins is inherent to streaming.

    State = one empty-marker per key group, checkpointed by the engine, so
    dedup survives restarts. Scale note: state is per-key and grows with
    distinct keys — for 10^12-doc ingest, key the state by a 128-bit
    content hash (16 bytes/key) and age it out with a processing-time
    timeout sized to the crawl revisit horizon; the compacted-snapshot
    batch join (module docstring) remains the full-history path.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = stream.schema
    tiebreak = order_col or next(c for c in schema.names if c != key_col)

    def first_only(key, pdfs, state):
        if state.exists:
            return
        state.update((True,))
        # the group's rows may span several Arrow batches: keep the
        # order_col-minimal row across ALL of them, then emit once
        best = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf.sort_values(tiebreak, kind="mergesort").iloc[:1]
                if best is None or cand[tiebreak].iloc[0] < best[tiebreak].iloc[0]:
                    best = cand
        if best is not None:
            yield best

    return stream.groupBy(key_col).applyInPandasWithState(
        first_only,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(
    stream: DataFrame,
    ts_col: str = "ts",
    entity_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """session_window sessionization — the streaming analog of
    operators.windows.sessionize (reference characterise_spells,
    R/characterise_episodes.R:269-285)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), entity_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            entity_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def _ingest_id(checkpoint_dir: str) -> str:
    """Identity of a batch-numbering sequence = the CHECKPOINT CONTENTS,
    not its path: a marker file inside the checkpoint carries a uuid, so
    resuming the same checkpoint keeps the id (replays recognized) while
    wiping-and-recreating the directory at the SAME path — the standard
    'force reprocess' move, which restarts batch ids at 0 — generates a
    fresh id and its batches commit as new data. This mirrors Iceberg's
    use of the query id STORED IN the checkpoint.

    The marker publishes via write-tmp+link (the snapshot manifest
    protocol): a visible marker is always complete, never the empty
    file an O_EXCL-then-write crash window could leave, and concurrent
    first-writers arbitrate through link-exclusivity. Non-local
    checkpoint URIs (hdfs://, s3a://) fall back to a path-derived id —
    stable across driver machines, but wiping and recreating a REMOTE
    checkpoint at the same path (the standard force-reprocess move)
    would keep the old identity, and the restarted batches 0..N would
    be silently discarded as replays. That is silent data loss, so the
    fallback WARNS loudly and tells the caller to pass an explicit
    `ingest_id` (a real deployment stores the id in the catalog)."""
    import hashlib
    import os
    import uuid as _uuid
    import warnings

    if "://" in checkpoint_dir:
        warnings.warn(
            f"ingest identity for remote checkpoint {checkpoint_dir!r} is "
            "derived from the PATH, not the checkpoint contents: wiping and "
            "recreating this checkpoint (force-reprocess) keeps the old "
            "identity and the restarted batches 0..N will be discarded as "
            "replays. Pass an explicit ingest_id= to the sink for remote "
            "checkpoints.",
            stacklevel=3,
        )
        return "path-" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:16]
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, ".snapshot_sink_id")
    if not os.path.exists(marker):
        tmp = os.path.join(checkpoint_dir, f".sink_id_tmp-{_uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(_uuid.uuid4().hex[:16])
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, marker)
        except FileExistsError:
            pass                       # concurrent first-writer won
        finally:
            os.unlink(tmp)
    with open(marker) as f:
        ident = f.read().strip()
    if not ident:
        raise RuntimeError(f"empty ingest marker at {marker}")
    return ident


def _replayed(extra: dict, ingest_id: str, batch_id: int) -> bool:
    """True iff this (ingest_id, batch_id) already committed. The guard
    is a PER-INGEST map (extra['batch_ids']) so two sinks sharing one
    root can't erase each other's replay records. This is the single
    authoritative scheme — a table written by a pre-map build would need
    its flat batch_id folded into the map once (no such tables exist;
    the flat keys never shipped)."""
    last = extra.get("batch_ids", {}).get(ingest_id)
    return last is not None and batch_id <= last


def _commit_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    partition_col: str | None = None,
    ingest_id: str = "default",
) -> bool:
    """Commit one micro-batch as a snapshot version; returns False when
    skipped. EXACTLY-ONCE under replay: the latest manifest's
    `extra` records (ingest_id, batch_id) of the last committed batch,
    so a batch replayed after a crash between our commit and Spark's
    checkpoint commit-log write is recognized and skipped — while a NEW
    ingest (fresh checkpoint → new ingest_id → batch ids restart at 0)
    commits normally instead of being silently discarded."""
    from inspectehr_spark.sources import snapshots as snap

    if _replayed(snap.latest_extra(root), ingest_id, batch_id):
        return False                      # already committed; crash replay
    if not batch_df.take(1):
        return False
    rel = snap.write_table_data(
        batch_df, root, "stream", (snap.latest_version(root) or 0) + 1,
        partition_col=partition_col,
    )
    snap.commit_transaction(
        root, {"stream": [rel]},
        extra={"batch_ids": {ingest_id: batch_id}},
        keep_prior=True,
    )
    return True


def snapshot_sink(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
    trigger_once: bool = False,
    ingest_id: str | None = None,
):
    """Stream into a versioned snapshot table: each micro-batch commits
    atomically through sources/snapshots.py (write the data dir
    invisibly, then one link-published manifest), so downstream readers
    only ever see whole micro-batches and can time-travel the ingest
    history. Replay-safe: the committed batch id rides in the manifest
    and `_commit_stream_batch` skips batches at-or-below it, closing
    the crash window between snapshot commit and Spark's checkpoint
    commit-log write.

    `ingest_id` overrides the checkpoint-derived identity — REQUIRED in
    spirit for remote (URI) checkpoints, where the fallback identity is
    path-derived and a checkpoint wipe would silently discard the
    restarted batches as replays (see _ingest_id).

    Returns the started StreamingQuery (caller awaits/stops)."""
    iid = ingest_id if ingest_id is not None else _ingest_id(checkpoint_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        _commit_stream_batch(
            batch_df, batch_id, root, partition_col, ingest_id=iid
        )

    writer = stream.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _dedup_commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    text_col: str,
    id_col: str,
    partition_col: str | None = None,
    ingest_id: str = "default",
) -> int:
    """Commit one micro-batch with corpus-history dedup; returns the
    number of surviving rows (0 when skipped/empty).

    A row is a duplicate when its 128-bit text hash pair (salt-first,
    the pipeline's exact-dup key) is already in the committed corpus —
    the batch ANTI-JOINS the snapshot 'hashes' table — or when an
    earlier row of the SAME batch has the same pair (keep-first by id).
    Survivors and their hash pairs commit in ONE transaction, so the
    dedup index and the data can never diverge (a crash between the two
    would otherwise permanently pass or drop future duplicates).

    Scale: the per-batch anti-join is batch-sized vs corpus-history; at
    10^12 docs persist the hashes table bucketed by h1 so the join is
    storage-partitioned instead of reshuffling history per batch."""
    from pyspark.sql import Window

    from inspectehr_spark.sources import snapshots as snap

    if _replayed(snap.latest_extra(root), ingest_id, batch_id):
        return 0                              # crash replay — already committed
    hashed = batch_df.withColumn("_h1", F.xxhash64(text_col)).withColumn(
        "_h2", F.xxhash64(F.lit(1), text_col)
    )
    try:
        known = snap.read_table(
            batch_df.sparkSession, root, "hashes"
        ).select("_h1", "_h2")
        hashed = hashed.join(known, ["_h1", "_h2"], "left_anti")
    except FileNotFoundError:
        pass                                  # first batch: empty history
    w = Window.partitionBy("_h1", "_h2").orderBy(id_col)
    # PERSIST before fan-out: the survivors feed FOUR consumers (emptiness
    # probe, the 'stream' write, the 'hashes' write, the returned count).
    # Unpersisted, each would re-run the history anti-join — and the two
    # writes would be independent evaluations that could disagree on a
    # row_number tie, violating the index==data invariant.
    fresh = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .persist()
    )
    try:
        if not fresh.take(1):
            return 0
        hint = (snap.latest_version(root) or 0) + 1
        rel_rows = snap.write_table_data(
            fresh.drop("_h1", "_h2"), root, "stream", hint,
            partition_col=partition_col,
        )
        rel_hash = snap.write_table_data(
            fresh.select("_h1", "_h2"), root, "hashes", hint
        )
        snap.commit_transaction(
            root,
            {"stream": [rel_rows], "hashes": [rel_hash]},
            extra={"batch_ids": {ingest_id: batch_id}},
            keep_prior=True,
        )
        return fresh.count()              # reads the cache, no recompute
    finally:
        fresh.unpersist()


def dedup_snapshot_sink(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "url",
    partition_col: str | None = None,
    trigger_once: bool = False,
    ingest_id: str | None = None,
):
    """Streaming ingest with CORPUS-HISTORY exact dedup: the batch-mode
    statement in this module's docstring ("corpus-level dedup is a join
    against a compacted snapshot, not stream state") implemented — the
    snapshot store IS the compacted index, each micro-batch anti-joins
    it and atomically appends both survivors and their hash pairs.
    Replay-safe via the committed (ingest_id, batch_id); pass an explicit
    `ingest_id` for remote (URI) checkpoints (see _ingest_id). Returns
    the started query."""
    iid = ingest_id if ingest_id is not None else _ingest_id(checkpoint_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_commit_batch(
            batch_df, batch_id, root, text_col, id_col, partition_col,
            ingest_id=iid,
        )

    writer = stream.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _near_dup_commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    partition_col: str | None = None,
    ingest_id: str = "default",
    bucket_cap: int = 64,
) -> int:
    """Commit one micro-batch with corpus-history NEAR-dup (MinHash band)
    dedup; returns surviving rows (0 when skipped/empty).

    Hot-bucket backstop (`bucket_cap`, same role as in every batch band
    join): both the batch's banded rows and the history band index are
    capped per (band_id, band_hash) bucket — ROW_NUMBER over the id order
    — before joining, so one boilerplate mega-bucket (templated/empty
    text, or a hot historical band accumulated across batches) can never
    turn a micro-batch into an O(n²) self-join or stall the stream. Docs
    beyond the cap in a bucket can miss candidates through that bucket
    only — the documented recall trade every capped band join makes; the
    index itself is written UNCAPPED so history stays complete.

    The streaming form of the batch MinHash+LSH path
    (operators/dedup.minhash_lsh_duplicates; same signature and band
    keys, dedup.minhash_signature / minhash_band_hashes with xxhash64):
    the snapshot root carries the BAND INDEX as history — table
    'bands'(band_id, band_hash, _nd_id) and table 'sigs'(_nd_id, _nd_sig)
    — so a batch document is a near-dup
    when it shares a band with a committed survivor AND the signature
    agreement fraction >= `jaccard_threshold` (exact same banded-candidate
    → verify semantics as batch; band collisions alone never drop a doc).
    Within a batch the keep rule is EDGE-based keep-first: a doc drops on
    a verified pair to a smaller id (the streaming analog of the exact
    sink's keep-first; the batch survivorship chain collapses full
    components to the min id — a transitive chain whose links span this
    one micro-batch can therefore keep a doc the batch rule would fold,
    documented divergence). Docs with no shingles (< n tokens) can't be
    near-dups by this metric: they pass through as survivors and never
    enter the index (also keeps the degenerate empty-signature band from
    becoming one giant hot bucket).

    Survivors + their bands + their signatures commit in ONE transaction
    (the index can never diverge from the data), replay-safe via the
    committed (ingest_id, batch_id).

    Scale: per batch this is (batch bands) ⋈ (history band index) — a
    keyed equi-join; persist the history 'bands' table bucketed by
    band_hash at 10^12-doc scale so the join is storage-partitioned."""
    from inspectehr_spark.operators.dedup import (
        minhash_band_hashes,
        minhash_signature,
    )
    from inspectehr_spark.sources import snapshots as snap

    from pyspark.sql import Window

    if _replayed(snap.latest_extra(root), ingest_id, batch_id):
        return 0
    spark = batch_df.sparkSession

    # persist: the num_hashes×xxhash64 signature pass is the dominant
    # per-batch cost, and it feeds FOUR consumers (history join, both
    # sides of the within-batch self-join, kept survivor signatures) —
    # uncached it would recompute per consumer.
    sigs = minhash_signature(
        batch_df.select(F.col(id_col).alias("_nd_id"), text_col),
        num_hashes, "xxhash64", text_col=text_col, id_col="_nd_id",
    ).select("_nd_id", F.col("_sig").alias("_nd_sig")).persist()
    band_arr = minhash_band_hashes("_nd_sig", num_hashes, bands, "xxhash64")
    banded = sigs.select(
        "_nd_id", "_nd_sig", F.explode(band_arr).alias("b")
    ).select("_nd_id", "_nd_sig", "b.band_id", "b.band_hash")
    _wb = Window.partitionBy("band_id", "band_hash").orderBy("_nd_id")
    banded = banded.withColumn("_rn", F.row_number().over(_wb)).filter(
        F.col("_rn") <= bucket_cap
    ).drop("_rn")

    est = (
        F.size(
            F.filter(
                F.zip_with("_nd_sig", "_hist_sig", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes)
    )

    try:
        return _near_dup_join_and_commit(
            batch_df, batch_id, root, id_col, banded, sigs, band_arr, est,
            jaccard_threshold, bucket_cap, partition_col, ingest_id, spark,
        )
    finally:
        sigs.unpersist()


def _near_dup_join_and_commit(
    batch_df, batch_id, root, id_col, banded, sigs, band_arr, est,
    jaccard_threshold, bucket_cap, partition_col, ingest_id, spark,
) -> int:
    from pyspark.sql import Window

    from inspectehr_spark.sources import snapshots as snap

    # --- history near-dups: batch bands ⋈ committed band index ---
    losers = None
    try:
        hist_bands = snap.read_table(spark, root, "bands").withColumnRenamed(
            "_nd_id", "_hist_id"
        )
        _wh = Window.partitionBy("band_id", "band_hash").orderBy("_hist_id")
        hist_bands = hist_bands.withColumn(
            "_rn", F.row_number().over(_wh)
        ).filter(F.col("_rn") <= bucket_cap).drop("_rn")
        hist_sigs = snap.read_table(spark, root, "sigs").select(
            F.col("_nd_id").alias("_hist_id"), F.col("_nd_sig").alias("_hist_sig")
        )
        cand = (
            banded.join(hist_bands, ["band_id", "band_hash"])
            .select("_nd_id", "_nd_sig", "_hist_id")
            .dropDuplicates(["_nd_id", "_hist_id"])
            .join(hist_sigs, "_hist_id")
        )
        losers = cand.filter(est >= jaccard_threshold).select("_nd_id").distinct()
    except FileNotFoundError:
        pass                                   # first batch: empty history

    # --- within-batch near-dups: banded self-join, drop the larger id ---
    a, b2 = banded.alias("a"), banded.alias("b")
    within_pairs = (
        a.join(
            b2,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._nd_id") < F.col("b._nd_id")),
        )
        .select(
            F.col("a._nd_sig").alias("_nd_sig"),
            F.col("b._nd_sig").alias("_hist_sig"),
            F.col("b._nd_id").alias("_nd_id"),
        )
        .dropDuplicates(["_nd_id", "_nd_sig", "_hist_sig"])
    )
    within_losers = (
        within_pairs.filter(est >= jaccard_threshold).select("_nd_id").distinct()
    )
    all_losers = (
        within_losers if losers is None else losers.unionByName(within_losers)
    ).distinct()

    fresh = batch_df.join(
        all_losers.withColumnRenamed("_nd_id", id_col), id_col, "left_anti"
    ).persist()
    try:
        if not fresh.take(1):
            return 0
        kept_sigs = sigs.join(
            fresh.select(F.col(id_col).alias("_nd_id")), "_nd_id"
        ).persist()
        try:
            kept_bands = kept_sigs.select(
                "_nd_id", "_nd_sig", F.explode(band_arr).alias("b")
            ).select("b.band_id", "b.band_hash", "_nd_id")
            hint = (snap.latest_version(root) or 0) + 1
            rel_rows = snap.write_table_data(
                fresh, root, "stream", hint, partition_col=partition_col
            )
            rel_bands = snap.write_table_data(kept_bands, root, "bands", hint)
            rel_sigs = snap.write_table_data(kept_sigs, root, "sigs", hint)
            snap.commit_transaction(
                root,
                {"stream": [rel_rows], "bands": [rel_bands], "sigs": [rel_sigs]},
                extra={"batch_ids": {ingest_id: batch_id}},
                keep_prior=True,
            )
            return fresh.count()
        finally:
            kept_sigs.unpersist()
    finally:
        fresh.unpersist()


def near_dup_snapshot_sink(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "url",
    num_hashes: int = 32,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    partition_col: str | None = None,
    trigger_once: bool = False,
    ingest_id: str | None = None,
    bucket_cap: int = 64,
):
    """Streaming ingest with corpus-history NEAR-dup (MinHash+LSH) dedup —
    the r4 exact-hash `dedup_snapshot_sink` extended with the band index
    in the snapshot store, giving the streaming path the same near-dup
    semantics the batch path has (verdict r4 stretch). Survivors, band
    index and signatures commit atomically per micro-batch; replay-safe
    via (ingest_id, batch_id). Returns the started query."""
    iid = ingest_id if ingest_id is not None else _ingest_id(checkpoint_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        _near_dup_commit_batch(
            batch_df, batch_id, root, text_col, id_col,
            num_hashes, bands, jaccard_threshold,
            partition_col, ingest_id=iid, bucket_cap=bucket_cap,
        )

    writer = stream.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
