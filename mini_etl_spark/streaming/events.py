"""Streaming operators over the events table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_etl_spark.streaming.publish import (  # noqa: F401 — re-exported
    _batch_partition_gate,
    _foreach_batch,
    _guard_batch_partition_sink,
    _merge_base,
    _read_pointer,
    _snapshot_merge_sink,
    _start_query,
    read_latest_snapshot,
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch in tests; in production this would be Kafka/files landing).
    ``ts`` is normalized to a microsecond timestamp column.

    The stream schema is taken from the file footer (driver-side metadata
    read, no data scan), so the source works whether ``ts`` was written as
    TIMESTAMP(NANOS) (read as int64 under the legacy conf, then converted)
    or as a standard micro/milli timestamp."""
    from mini_etl_spark.sources.files import _stream_path

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(path).schema  # footer-only read
        # deterministic symlink dir (checkpoints dedup by absolute path —
        # a random dir per run would re-ingest the file on every restart)
        path = _stream_path(path)
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    if isinstance(schema["ts"].dataType, T.LongType):  # nanos since epoch
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # watermarks/windows want session-tz timestamps; NTZ→TZ is a no-op
        # relabel under UTC session timezone
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


def tumbling_window_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window count/sum. Late rows beyond the
    watermark are dropped; state is bounded to ~watermark/window windows
    per key."""
    keys = keys if keys is not None else ["event_type"]
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "value_sum",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    windows — state and output scale by that factor; keep the ratio small
    at scale."""
    keys = keys if keys is not None else ["event_type"]
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            *keys,
            "n_events",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
) -> DataFrame:
    """Streaming sessionization: dynamic-length session windows closed by
    ``gap`` of inactivity per key (F.session_window merges adjacent state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col(key),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def batch_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    key: str = "user_id",
) -> DataFrame:
    """Bounded-data sessionization with identical semantics to the session
    window: session starts where the gap to the previous event (per key)
    exceeds ``gap_minutes``; session id = cumulative count of starts.

    The classic lag+cumsum window pair — one shuffle on the key, and the
    SQL-expressible oracle for the streaming path. Output: one row per
    session with start/end/count/sum.

    Boundary semantics match ``F.session_window`` exactly: Spark MERGES
    adjacent sessions, so an event at exactly ``prev + gap`` EXTENDS the
    session (strict ``>`` splits) — verified against the real operator in
    tests; the comparison runs at microsecond precision (``unix_micros``),
    not truncated seconds, so fractional-second gaps classify correctly.
    """
    w = Window.partitionBy(key).orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    marked = events.withColumn(
        "__new_session",
        F.when(
            F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
            > F.lit(gap_us),
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "__session_seq",
        F.sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy(key, "__session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .withColumnRenamed("__session_seq", "session_seq")
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only until
    the watermark passes it, so duplicates arriving within the watermark
    window collapse while state stays O(keys-per-watermark-window) — the
    streaming twin of the batch ``deduplicate`` operator. Exactly-once
    sinks plus at-least-once sources is the canonical use (replayed events
    collapse here)."""
    keys = keys if keys is not None else ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_static_join(
    events: DataFrame,
    static_df: DataFrame,
    on: str | list[str],
    how: str = "inner",
    broadcast_static: bool = True,
) -> DataFrame:
    """Enrich a stream with a STATIC dimension (the lookup-table pattern).
    Stream-static joins need no watermark and keep no join state — each
    micro-batch joins against the static side, broadcast by default so the
    streaming side never shuffles. The static side is re-read per batch
    only for file sources that change; a cached dimension is read once."""
    right = F.broadcast(static_df) if broadcast_static else static_df
    return events.join(right, on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    within: str = "1 hour",
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    how: str = "inner",
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Watermarked stream-stream join: match right-side events to left-side
    events with equal keys whose timestamp falls in ``[left_ts, left_ts +
    within]`` — the impressions-to-clicks attribution shape.

    Both sides carry watermarks and the join condition carries a time-range
    bound; together they let the state store evict rows once the watermark
    passes ``within``, so join state is bounded to ~(rate × (watermark +
    within)) per side instead of growing forever. Outer joins additionally
    *require* the bound (unmatched rows emit only after the watermark
    closes their window).

    The right side's key/timestamp columns are suffixed ``_r`` in the
    output so both sides' values survive the join. At scale this is one
    shuffle per side on the keys (stateful symmetric hash join) — the same
    cost shape as a batch sort-merge join plus bounded state.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    renames = {c: f"{c}_r" for c in rw.columns}
    rw = rw.select([F.col(c).alias(renames[c]) for c in rw.columns])
    cond = None
    for k in keys:
        e = F.col(k) == F.col(f"{k}_r")
        cond = e if cond is None else cond & e
    cond = (
        cond
        & (F.col(f"{right_ts}_r") >= F.col(left_ts))
        & (F.col(f"{right_ts}_r") <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)



def stream_upsert_to_parquet(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming keyed upsert into a plain-parquet target via
    ``foreachBatch`` — the CDC-apply sink: each micro-batch is merged into
    the target with :func:`mini_etl_spark.operators.merge.merge_upsert`
    (delta wins, new keys insert) and published as a new snapshot
    directory, with a ``_LATEST`` pointer file flipped atomically
    (write-temp + rename) after the snapshot lands. Readers that go
    through :func:`read_latest_snapshot` always see a complete snapshot —
    never a half-written one — and a crashed batch simply leaves an
    orphaned unreferenced directory behind.

    Scale notes: plain parquet has no transactional MERGE, so each batch
    rewrites the (merged) target — correct, but O(target) per batch. On a
    real cluster you bound the rewrite by partitioning the target on a key
    prefix and merging only the partitions the delta touches, or use a
    table format (Delta/Iceberg/Hudi) whose ``MERGE INTO`` is this exact
    operation with file-level pruning. The micro-batch semantics here are
    identical either way, which is the point of the foreachBatch escape
    hatch: any batch operator becomes a streaming sink.

    ``order_col``: version/timestamp column deciding last-write-wins when
    one micro-batch carries several rows for a key (CDC streams mix
    versions whenever file batching coalesces changes). Without it the
    within-batch survivor is arbitrary — acceptable only for replayed
    identical rows.
    """
    from mini_etl_spark.operators.merge import merge_upsert

    def _delta(batch_df: DataFrame) -> DataFrame:
        if order_col is None:
            # no ordering column: an ARBITRARY row per key survives when a
            # batch carries several versions of one key — fine for
            # idempotent replays, wrong for in-batch updates; pass
            # order_col for CDC streams whose batches mix versions
            return batch_df.dropDuplicates(keys)
        # true last-write-wins: keep the row with the max order value per
        # key (one hash aggregate over the batch)
        payload = [c for c in batch_df.columns if c not in keys]
        return (
            batch_df.groupBy(*keys)
            .agg(F.max_by(F.struct(*payload), F.col(order_col)).alias("__row"))
            .select(*keys, "__row.*")
            .select(*batch_df.columns)
        )

    return _snapshot_merge_sink(
        stream_df, "stream_upsert_to_parquet", target_path, checkpoint,
        _delta, lambda current, delta: merge_upsert(current, delta, keys),
        "update", available_now, await_termination,
    )


def stream_dedup_against_index(
    stream_df: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    max_bucket_freq: int | None = 1000,
    at_least_once: bool = False,
    available_now: bool = True,
    await_termination: bool = True,
    kind: str = "minhash",
):
    """Streaming near-dup gate over a persisted similarity index: every
    micro-batch is probed against the corpus index, survivors are
    appended to ``out_path`` (parquet) AND to the index, so later
    batches — and later *streams* — dedup against everything ever
    accepted. The complete continuous-ingestion loop as one streaming
    query; the corpus text is never re-read, only its postings.

    ``kind`` selects the index at ``index_path``: ``"minhash"``
    (default — approximate, signature-agreement scoring,
    :func:`mini_etl_spark.functions.dedup_index.minhash_index_filter`)
    or ``"jaccard"`` (EXACT threshold similarity over the frozen-order
    prefix index,
    :func:`mini_etl_spark.functions.jaccard_index.jaccard_index_filter`
    — no false drops, no misses, same crash-direction contract;
    ``max_bucket_freq`` is minhash-only and must stay at its default
    for the exact kind, which needs no cap).

    Exactly-once caveat, stated: the append-to-index and the parquet
    append are two non-atomic writes, so a crash between them fails in
    one direction, chosen by ``at_least_once``:

    - ``False`` (default, AT-MOST-ONCE output): index first, output
      second — a crash between them leaves a survivor indexed but
      unwritten, and the replay DROPS it (re-probing finds it indexed).
      No duplicate ever lands in ``out_path``; the dropped rows are
      observable as "indexed ids absent from out_path" (the replay's
      probe reports them as index matches). Locked by
      tests/test_streaming.py::test_stream_dedup_against_index_replay_
      directions.
    - ``True`` (AT-LEAST-ONCE output): output first, index second — a
      crash between them replays the batch with the survivor not yet
      indexed, so it is kept and APPENDED AGAIN; downstream must
      tolerate (or re-dedup) occasional duplicate rows, but no accepted
      row is ever lost.

    The index appends themselves are idempotent either way (the minhash
    appends per-component,
    :func:`mini_etl_spark.functions.dedup_index._append_parts`; the
    jaccard index has one growing component and a stored-id anti-join)
    — a replay never duplicates or strands postings."""
    if kind == "jaccard":
        if max_bucket_freq != 1000:
            raise ValueError(
                "stream_dedup_against_index: max_bucket_freq is a minhash "
                "bucket cap — the exact jaccard kind has no cap to tune; "
                "leave it at its default"
            )
        from mini_etl_spark.functions.jaccard_index import (
            jaccard_index_append as _idx_append,
        )
        from mini_etl_spark.functions.jaccard_index import (
            jaccard_index_filter,
        )

        def _gate(batch_df: DataFrame, append: bool) -> DataFrame:
            return jaccard_index_filter(
                batch_df, index_path, threshold=threshold,
                append_survivors=append,
            )
    elif kind == "minhash":
        from mini_etl_spark.functions.dedup_index import (
            minhash_index_append as _idx_append,
        )
        from mini_etl_spark.functions.dedup_index import (
            minhash_index_filter,
        )

        def _gate(batch_df: DataFrame, append: bool) -> DataFrame:
            return minhash_index_filter(
                batch_df, index_path, threshold=threshold,
                max_bucket_freq=max_bucket_freq, append_survivors=append,
            )
    else:
        raise ValueError(
            f"stream_dedup_against_index: kind must be minhash|jaccard, "
            f"got {kind!r}"
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if at_least_once:
            # output-first: survivors land before they are indexed, so a
            # crash window replays into a duplicate append, never a drop
            kept = _gate(batch_df, False).localCheckpoint(
                eager=True
            )  # one computation for write+append
            kept.write.mode("append").parquet(out_path)
            _idx_append(kept, index_path)
        else:
            kept = _gate(batch_df, True)
            kept.write.mode("append").parquet(out_path)

    return _foreach_batch(stream_df, _apply, checkpoint, "append",
                          available_now, await_termination)


def stream_classify_gate(
    stream_df: DataFrame,
    model_path: str,
    out_path: str,
    checkpoint: str,
    keep_label: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming model gate: every micro-batch is scored against a
    PERSISTED Naive-Bayes model (:func:`mini_etl_spark.functions.classify
    .nb_save`) and only rows classified as ``keep_label`` are written to
    ``out_path`` (parquet, with ``label`` and ``score`` columns) — the
    streaming form of the ``nb_classify`` config gate, completing the
    train-once / gate-forever loop: curate a labeled seed corpus, persist
    the model, and every future ingestion stream filters through it.
    The model is read inside foreachBatch, so replacing the parquet
    frames between batches rolls the model forward without restarting
    the query.

    Exactly-once output: the gating decision is a pure function of the
    batch, and each accepted batch lands under its own ``batch_id=<B>``
    hive partition via dynamic partition overwrite
    (:func:`_publish_batch_partition`) — a checkpoint replay (crash
    after the write, before the commit) overwrites its earlier attempt
    instead of appending a duplicate, the same contract as
    :func:`stream_drift_gate`. Inputs carrying a ``batch_id`` column and
    pre-partitioned (plain-append era) sink directories are refused up
    front (:func:`_guard_batch_partition_sink`)."""
    from mini_etl_spark.functions.classify import nb_classify, nb_load

    def _gate(batch_df: DataFrame, batch_id: int) -> tuple:
        model = nb_load(batch_df.sparkSession, model_path)
        labeled = nb_classify(model, batch_df, text_col, id_col)
        return (batch_df.join(labeled.filter(F.col("label") == keep_label), id_col),)

    return _batch_partition_gate(
        stream_df, "stream_classify_gate", checkpoint, _gate,
        available_now, await_termination, out_path,
    )


def stream_lm_update(
    stream_df: DataFrame,
    model_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming incremental bigram-LM trainer: each micro-batch is
    reduced to its own (batch-sized) bigram counts, sum-merged into the
    persisted model (``lm.merge_bigram_lms`` — proven equal to retraining
    on the concatenated corpus), and published as a new snapshot with the
    ``_LATEST`` pointer flipped atomically (same publication protocol as
    :func:`stream_upsert_to_parquet`; read the current model with
    :func:`read_latest_snapshot`). The corpus is touched once per batch
    and never re-read — only model-sized frames merge, so the per-batch
    cost is O(batch + model), the state the 100 TB shape requires. Pair
    with :func:`stream_lm_gate` pointed at the published snapshots for a
    gate whose model improves as data flows.

    Idempotent under checkpoint REPLAY on both sides of the publish: a
    crash BEFORE the pointer flip leaves the previous snapshot live and
    the orphan directory unreferenced; a crash AFTER the flip (but
    before the checkpoint commit) is caught by :func:`_merge_base` — the
    pointer records its predecessor, and a replayed batch re-merges into
    THAT, never into its own earlier attempt, so counts are never
    doubled."""
    from mini_etl_spark.functions.lm import merge_bigram_lms, train_bigram_lm

    return _snapshot_merge_sink(
        stream_df, "stream_lm_update", model_path, checkpoint,
        lambda batch_df: train_bigram_lm(batch_df, text_col, id_col),
        merge_bigram_lms, "append", available_now, await_termination,
    )


def stream_lm_gate(
    stream_df: DataFrame,
    model_path: str,
    out_path: str,
    checkpoint: str,
    max_perplexity: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming perplexity gate: each micro-batch is scored against a
    PERSISTED bigram LM (``train_bigram_lm`` output written as parquet)
    and only rows with ``perplexity <= max_perplexity`` are appended to
    ``out_path`` (with ``lm2_score`` and ``perplexity`` columns) — the
    quality-filter sibling of :func:`stream_classify_gate`: fit the LM on
    a clean seed corpus once, then every future ingestion stream drops
    gibberish/boilerplate as it arrives. Model parquet is re-read inside
    foreachBatch, so refreshing it between batches rolls the gate forward
    without restarting the query. Documents with < 2 tokens have no
    perplexity and are dropped (same contract as the batch scorer).

    Exactly-once output: the gating decision is a pure per-batch
    function, and each accepted batch publishes under its own
    ``batch_id=<B>`` partition via dynamic partition overwrite
    (:func:`_publish_batch_partition`), so a checkpoint replay replaces
    its earlier attempt instead of appending a duplicate — same contract
    and same preflight guards as :func:`stream_classify_gate` /
    :func:`stream_drift_gate`."""
    from mini_etl_spark.functions.lm import bigram_logprob_score

    def _gate(batch_df: DataFrame, batch_id: int) -> tuple:
        model = batch_df.sparkSession.read.parquet(model_path)
        scored = bigram_logprob_score(batch_df, model, text_col, id_col, alpha)
        return (batch_df.join(
            scored.filter(F.col("perplexity") <= F.lit(max_perplexity)).select(
                id_col, "lm2_score", "perplexity"
            ),
            id_col,
        ),)

    return _batch_partition_gate(
        stream_df, "stream_lm_gate", checkpoint, _gate,
        available_now, await_termination, out_path,
    )


def stream_drift_gate(
    stream_df: DataFrame,
    baseline_path: str,
    out_path: str,
    checkpoint: str,
    column: str,
    max_psi: float,
    mode: str = "numeric",
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    top_k: int = 20,
    report_path: str | None = None,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming PSI gate: every micro-batch's distribution of ``column``
    is compared against a PERSISTED baseline epoch (parquet) and batches
    within ``max_psi`` are written to ``out_path``; a drifted batch
    raises BEFORE anything is written, failing the query so the batch is
    re-gated on restart instead of slipping through — the streaming twin
    of the declarative ``drift`` node, completing the batch/stream story
    the way stream_classify_gate/stream_lm_gate did for their batch ops.

    ``mode="numeric"`` uses :func:`mini_etl_spark.maintenance
    .distribution_drift`. Left unset, ``lo``/``hi`` default to the
    BASELINE epoch's min/max (one tiny aggregate over the baseline per
    batch, zero extra scans of the stream side) — stationary by
    construction, so a mean-shifted batch is refused even when its own
    values would stretch a shared bin range until both epochs collapse
    into one bin (the pre-r11 default derived the range from
    baseline∪batch, and one batch outlier could flatten the PSI to ~0).
    Out-of-range batch values clamp into the edge bins, which is
    exactly the drift signal. Pin ``lo``/``hi`` explicitly to gate
    against a fixed design range instead. A CONSTANT baseline column is
    refused (zero-width derived range would collapse the histogram to
    one bin and pass any shift with PSI ~ 0 — pin lo/hi).
    ``mode="categorical"`` uses :func:`mini_etl_spark.maintenance
    .category_drift` over the top ``top_k`` values.

    Exactly-once output: each accepted batch lands under its own
    ``batch_id=<B>`` hive partition of ``out_path`` via dynamic
    partition overwrite, so the at-least-once replay window of
    foreachBatch (crash after the write, before the checkpoint commit)
    REPLACES the batch's partition instead of appending a duplicate —
    the same replay-idempotence contract as stream_token_shards'
    per-batch dirs (streaming/corpus.py), without needing its marker
    protocol because the gate keeps no cross-batch state. Read with a
    plain ``spark.read.parquet(out_path)`` (``batch_id`` arrives as a
    partition column); only a reader racing a mid-write batch can see
    a partially-written partition.

    With ``report_path``, the bounded per-batch drift report (plus the
    ``batch_id`` column) is published there the same way — written only
    AFTER the gated batch commits its own write, so a refused batch
    leaves no report, and a crash between the two writes replays into
    an overwrite of both. The baseline is re-read inside foreachBatch:
    replacing the parquet between batches rolls the reference epoch
    forward without restarting the query. Pure per-batch function of
    (batch, baseline) → replay-safe gating decision AND sink."""
    from mini_etl_spark.maintenance import _psi_gate

    if mode not in ("numeric", "categorical"):
        raise ValueError(
            f"stream_drift_gate: mode must be numeric|categorical, "
            f"got {mode!r}"
        )

    def _gate(batch_df: DataFrame, batch_id: int) -> tuple | None:
        spark = batch_df.sparkSession
        # one materialization for the batch's three consumers (empty
        # check, drift scan, publish): without it each action re-reads
        # the micro-batch source — and any observed metrics upstream
        # (Pipeline row stats) fire once per ACTION instead of once per
        # batch. Blocks release when the frame drops, raise path included.
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            # an empty micro-batch (all rows dropped upstream, or an
            # empty source file) carries no distribution to gate — PSI
            # against it would read as MAXIMAL drift (every baseline bin
            # -> epsilon) and the raised batch would replay forever, a
            # poison pill no baseline refresh can clear. Nothing to
            # write either; commit the batch as a no-op.
            import logging

            logging.getLogger(__name__).info(
                "stream_drift_gate: batch %d is empty — skipping the "
                "gate (nothing to write)", batch_id,
            )
            return None
        rows, schema = _psi_gate(
            spark.read.parquet(baseline_path), batch_df, column, max_psi,
            f"stream_drift_gate: batch {batch_id}", baseline_path,
            mode=mode, bins=bins, lo=lo, hi=hi, top_k=top_k,
        )
        # the report publishes AFTER the gated batch (tuple order)
        return batch_df, spark.createDataFrame(rows, schema)

    return _batch_partition_gate(
        stream_df, "stream_drift_gate", checkpoint, _gate,
        available_now, await_termination, out_path, report_path,
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Test harness: drive the streaming query over all available input
    synchronously and return the result as a batch DataFrame."""
    query = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def stream_to_files(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    available_now: bool = True,
    await_termination: bool = True,
):
    """Checkpointed file sink — the durable end of a streaming pipeline.

    The checkpoint directory gives end-to-end exactly-once file output:
    offsets commit only after a batch's files land, so a crashed or
    restarted query resumes without duplicating or dropping batches
    (restart-with-same-checkpoint is tested). ``available_now=True`` runs
    as an incremental batch over all pending input and terminates — the
    scheduled-ETL mode; pass False for a continuously running query,
    which starts a micro-batch every 500 ms (back to back when a batch
    takes longer) so a steady stream commits in a few large batches.
    Returns the StreamingQuery (already finished when both flags are on).
    """
    return _start_query(
        stream_df.writeStream.outputMode(output_mode)
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint),
        available_now,
        await_termination,
    )


def stream_cm_update(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 1024,
    seed: int = 1000,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming count-min-sketch maintenance: each micro-batch is
    reduced to its own depth×width CM table (``text.cm_sketch_table``)
    and cell-wise summed into the persisted sketch (``text.cm_merge`` —
    exact by the CM mergeability property: sketch(A ∪ B) is the sum of
    sketches). Published as snapshots with an atomically-flipped
    ``_LATEST`` pointer, the same protocol as :func:`stream_lm_update`;
    read the live sketch with :func:`read_latest_snapshot` and probe it
    with ``text.cm_probe``.

    The 100 TB frequency-state shape: per batch the corpus is touched
    once, and only sketch-sized (≤ depth·width rows) frames merge —
    heavy-hitter queries over an unbounded stream with constant state.
    Same replay protocol as the LM trainer: a crash before the pointer
    flip leaves the previous snapshot live; a replay after the flip
    re-merges into the recorded PREDECESSOR (:func:`_merge_base`), so
    cell counts are never summed twice."""
    from mini_etl_spark.functions.text import cm_merge, cm_sketch_table

    return _snapshot_merge_sink(
        stream_df, "stream_cm_update", sketch_path, checkpoint,
        lambda batch_df: cm_sketch_table(
            batch_df, text_col, id_col, depth, width, seed
        ),
        cm_merge, "append", available_now, await_termination,
    )
