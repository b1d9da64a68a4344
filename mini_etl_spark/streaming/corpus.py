"""Streaming twins of the corpus-assembly operators — incremental forms
of :func:`~mini_etl_spark.functions.splits.token_balanced_shard_ids` and
:func:`~mini_etl_spark.functions.mixing.temperature_mix`, built on the
same ``foreachBatch`` patterns as the rest of the streaming surface
(offset-state carry like ``stream_lm_update``'s model, snapshot publish
like ``stream_upsert_to_parquet``).

Reference parity: none — the reference has no streaming surface at all;
these extend the LLM-pipeline operators to continuous ingestion.

Two different incrementality shapes, matched to the operator's math:

- **token sharding is prefix-sum shaped** — a later batch only needs the
  running token total where the previous one stopped, so
  :func:`stream_token_shards` carries ONE integer of state per batch and
  every batch's work is batch-sized. Arrival order becomes the global
  order (a stream cannot re-order history); within a batch the usual
  md5 layout applies, so a replayed batch reproduces its assignment.
  Output is published per-batch with a commit marker written LAST, so a
  replayed batch overwrites its own directory and re-commits the same
  marker — :func:`read_token_shards` sees every committed row exactly
  once with no read-time dedup. Committed batch directories are sealed
  into IMMUTABLE compacted segments every ``compact_every`` batches
  (pointer-committed, one-cycle reader grace, LSM-merged when the
  segment list exceeds ``max_segments``), so directory, file and marker
  counts stay bounded at any trigger cadence while each cycle's write
  cost stays segment-sized, not output-so-far.
- **temperature mixing is a global quota over per-source counts** — any
  new document can change every source's quota, so there is no per-batch
  state smaller than the corpus. :func:`stream_temperature_mix` is
  therefore recompute-on-append: accumulate the stream into a staging
  table, re-run the (deterministic) batch mixture over everything seen,
  and publish it as an atomic snapshot. Cost per batch is one mixture
  job over the corpus-so-far — the honest price of a global quota; at
  100 TB you run it on a cadence (trigger intervals), not per-record,
  exactly like any other snapshot-maintaining sink here. The staging
  table is compacted into immutable segments every ``compact_every``
  batches (pointer-committed, replay-safe) so the per-batch directory
  count stays bounded and each cycle rewrites one segment, not the
  staging-so-far.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_spark.statefile import (
    _children,
    _numbered,
    _read_state,
    _state_io,
    _write_state,
)
from mini_etl_spark.streaming.publish import (
    _checkpoint_query_id,
    _compact_segments,
    _foreach_batch,
    _incarnation_guard,
    _pointer_segments,
    _publish_snapshot,
    _read_pointer,
)

logger = logging.getLogger(__name__)

__all__ = ["stream_token_shards", "read_token_shards", "stream_temperature_mix"]


def _resolve_offset(st: dict, batch_id: int, query_id: str = "") -> int:
    """Running-total offset for an incoming batch given the state doc.
    A replayed batch (same id the state was written FOR, under the SAME
    checkpoint incarnation — the at-least-once window between state
    write and checkpoint commit) restarts from ``prev_offset``; its
    tokens are already inside ``offset`` and using it would
    double-count them, permanently shifting every later shard boundary.
    A matching batch id under a DIFFERENT query id is a fresh checkpoint
    reusing id 0, not a replay — it continues from ``offset``. An EMPTY
    query id on either side (checkpoint metadata unreadable, or a state
    doc written before id scoping) is a wildcard: the batch-id collision
    is then treated as a replay, because degrading toward ``prev_offset``
    re-runs an identical assignment at worst, while degrading toward
    ``offset`` double-counts — the unsafe direction. A state doc lacking
    ``prev_offset`` (written before replay tracking) falls back to
    ``offset`` — the documented old may-double-count caveat, never a
    silent reset to 0."""
    stored_qid = str(st.get("query_id", ""))
    qid_match = (not query_id) or (not stored_qid) or stored_qid == query_id
    if st.get("batch_id") == batch_id and qid_match:
        return int(st.get("prev_offset", st.get("offset", 0)))
    return int(st.get("offset", 0))


def _commit_dir(out_path: str) -> str:
    return out_path.rstrip("/") + "/_commits"


def _output_pointer(out_path: str) -> str:
    return out_path.rstrip("/") + "/_COMPACT.json"


def _committed_batches(spark: SparkSession, out_path: str) -> list[int]:
    """Batch ids with a published commit marker under ``out_path``."""
    return sorted(_numbered(spark, _commit_dir(out_path), "", ".json"))


def read_token_shards(spark: SparkSession, out_path: str) -> DataFrame | None:
    """Exactly-once reader for :func:`stream_token_shards` output: the
    sealed compacted segments the ``_COMPACT.json`` pointer lists (all
    committed batches up to its ``upto``, if compaction is enabled) plus
    every batch directory NEWER than it that has a published commit
    marker. A crash between data write and marker publish (or a
    half-written replay in flight) is invisible, and no read-time dedup
    is needed — a replayed batch OVERWRITES its own ``batch=K/``
    directory, and a replayed compaction rewrites the same segment
    directories. Returns ``None`` when nothing has been committed yet.
    The synthetic ``batch`` partition column is dropped; the shard
    column survives as the hive-style partition it was written with (in
    the compacted segments too — compaction preserves the shard
    partitioning).

    Concurrency contract: the returned DataFrame lists its directories
    at call time, and compaction GC retains everything a reader could
    have listed for ONE full further compaction cycle (directories are
    deleted only after they have been invisible to new readers since
    the previous pointer flip). Consume the frame within a cycle; a
    FileNotFound on a very stale frame just means re-calling this
    function."""
    root = out_path.rstrip("/")
    # a corrupt pointer RAISES (via _read_state's diagnosis): silently
    # treating it as absent would read grace-retained folded batch dirs
    # in place of the segments and drop every GC'd batch's rows
    st = _read_state(spark, _output_pointer(out_path))
    upto = int(st["upto"]) if st else -1
    ids = [i for i in _committed_batches(spark, out_path) if i > upto]
    parts = []
    segs = _pointer_segments(st)
    # segment dirs derived from the pointer's RELATIVE names (never a
    # persisted absolute path) so a copied/relocated output root reads
    # ITS OWN segments, not the original location's. One read PER segment
    # (unioned) so each dir is its own partition-discovery base — shard=K
    # is a column, and a legacy upto=N generation name can't collide with
    # the seg-… names in one multi-path discovery.
    parts += [
        spark.read.parquet(f"{root}/compact/{name}") for _, _, name in segs
    ]
    if ids:
        dirs = [f"{root}/batch={i}" for i in ids]
        parts.append(
            spark.read.option("basePath", root).parquet(*dirs).drop("batch")
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _existing_output_query_ids(
    spark: SparkSession, out_path: str, max_markers: int = 16
) -> set:
    """Non-empty query ids recorded in the output's compaction pointer
    and its NEWEST ``max_markers`` commit markers — the persisted
    identity of the checkpoint incarnation(s) that produced it.
    Unreadable documents are skipped (they cannot positively identify a
    FOREIGN incarnation). The scan is bounded and newest-first so a
    compaction-disabled output with 10⁵ markers costs ~16 driver-side
    reads at stream start, not one per batch ever published; ALL
    ``max_markers`` newest markers are read (no early exit), so an
    output interleaving markers from two incarnations within that
    window surfaces both ids."""
    qids = set()
    try:
        st = _read_state(spark, _output_pointer(out_path))
        if st.get("query_id"):
            qids.add(str(st["query_id"]))
    except ValueError:
        pass
    newest_first = sorted(_committed_batches(spark, out_path), reverse=True)
    for i in newest_first[:max_markers]:
        try:
            doc = _read_state(spark, f"{_commit_dir(out_path)}/{i}.json")
        except ValueError:
            continue
        if doc.get("query_id"):
            qids.add(str(doc["query_id"]))
    return qids


def _compact_output(
    spark: SparkSession,
    out_path: str,
    upto: int,
    shard_col: str,
    query_id: str,
    options: dict | None = None,
    max_segments: int = 16,
) -> dict | None:
    """Seal every COMMITTED ``batch=K`` dir with ``prev_upto < K <= upto``
    into ONE new IMMUTABLE shard-partitioned segment
    (``compact/seg-<lo>-<hi>/``, written with the sink's ``options``),
    LSM-merge the two adjacent segments with the smallest combined span
    while the segment list exceeds ``max_segments``, flip the
    ``_COMPACT.json`` pointer atomically (it carries the segment LIST and
    the ``query_id``), then GC with a ONE-CYCLE GRACE: only
    directories and markers that the PREVIOUS flip already made invisible
    to new readers (batches ``<= prev_upto``, plus ``compact/`` dirs
    referenced by NEITHER the new nor the pre-flip pointer) are deleted —
    anything a concurrent :func:`read_token_shards` call could have
    listed since that flip survives until the next compaction.

    Write amplification — the round-8 weak item this design closes: a
    sealed segment is NEVER rewritten by later cycles, so the bytes
    written per cycle are one new segment (≈ ``compact_every`` batches)
    plus at most one merged pair — bounded by segment size, not by the
    output-so-far. Smallest-adjacent-pair merging gives the binary-counter
    shape (segment sizes ~powers of two), so a row is rewritten
    O(log n_cycles) times over the stream's life instead of once per
    cycle; with the default ``max_segments=16`` the counter holds ~2^16
    cycles (~8 years at an hourly cadence) before a forced large merge.

    Crash-safe and replay-idempotent: the shared core
    (:func:`~mini_etl_spark.streaming.publish._compact_segments`).

    Returns per-cycle stats ``{"upto", "segments", "folded_batches",
    "merges", "bytes_written"}`` (None for a no-op replay) — the scale
    sweep and the write-amplification regression test consume these."""
    root = out_path.rstrip("/")

    def _write_seg(df: DataFrame, sources: list[str], name: str) -> None:
        writer = df.repartition(F.col(shard_col)).write.mode("overwrite")
        # same writer options (compression, …) as the per-batch publishes
        # — segments hold nearly all the data, so dropping them here would
        # silently override the sink's configuration for the bulk
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.partitionBy(shard_col).parquet(f"{root}/compact/{name}")

    committed = _committed_batches(spark, out_path)
    return _compact_segments(
        spark, root, upto,
        {i: f"{root}/batch={i}" for i in committed},
        lambda dirs: spark.read.option("basePath", root).parquet(*dirs).drop("batch"),
        _write_seg, max_segments, grace=True,
        # every batch dir on disk (replay orphans of long-folded batches
        # included) and every commit marker
        swept=[*_numbered(spark, root, "batch=").items()]
        + [(i, f"{_commit_dir(out_path)}/{i}.json") for i in committed],
        query_id=query_id,
    )


def stream_token_shards(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    tokens_per_shard: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    shard_col: str = "shard",
    state_path: str | None = None,
    compact_every: int | None = 64,
    max_segments: int = 16,
    available_now: bool = True,
    await_termination: bool = True,
    options: dict | None = None,
):
    """Streaming token-balanced sharding: every micro-batch continues the
    global running token total exactly where the previous batch stopped
    (one-integer state file), assigns shards with the SAME cut rule as
    the batch operator (``shard = cum_before // tokens_per_shard``,
    md5 layout within the batch, documents whole), and publishes
    hive-style ``batch=B/shard=K/`` parquet under ``out_path`` with a
    per-batch commit marker.

    Equivalence contract (pytest-gated): streaming over batches B1,B2,…
    equals the batch prefix sum over the batches processed in arrival
    order with the md5 layout applied within each batch — the only
    well-defined global order an unbounded stream has. ``clamp=False``
    on the underlying call: a batch's trailing cut correctly OPENS the
    next shard for the following batch to keep filling (the batch-mode
    clamp is a complete-corpus rule).

    Replay safety — offsets: the state document records the batch id it
    was written FOR plus the offset both before and after that batch. A
    replayed batch (same incoming id as the stored one — the
    at-least-once window between the state write and the checkpoint
    commit) restarts from ``prev_offset``, reproducing its original
    assignment instead of double-counting its own tokens into the
    running total.

    Replay safety — files (exactly-once publish): each batch writes its
    rows to its OWN ``batch=B/`` directory in overwrite mode and then
    publishes an atomic commit marker (``_commits/B.json``) LAST. A
    replayed batch therefore replaces its earlier attempt's files and
    re-publishes an identical marker — no duplicate part files, ever.
    Read the output with :func:`read_token_shards` (takes the compacted
    generation plus newer committed batches); a plain
    ``spark.read.parquet(out_path)`` is NOT equivalent once compaction
    has run (it would double-count grace-retained folded batch dirs)
    and may see an in-flight uncommitted batch directory.

    Output retention — compaction: at a real trigger cadence the
    per-batch publish accrues one ``batch=B/`` directory plus one
    commit marker per micro-batch forever, and the reader's directory
    list grows with it. Every ``compact_every`` batches the committed
    batch directories are sealed into one IMMUTABLE shard-partitioned
    segment (``compact/seg=<lo>-<hi>/``) behind an atomic
    ``_COMPACT.json`` pointer that carries the segment LIST
    (:func:`_compact_output` — crash-safe, replay-idempotent, one-cycle
    GC grace for concurrent readers), bounding the directory, file and
    marker count at any cadence. A sealed segment is never rewritten;
    when the list exceeds ``max_segments`` the two adjacent segments
    with the smallest combined span LSM-merge into one, so the bytes
    written per cycle are bounded by segment size — not by the
    output-so-far — and a row is rewritten O(log cycles) times over the
    stream's life (the round-8 full-rewrite design rewrote everything
    every cycle). ``compact_every=None`` disables compaction and keeps
    the pure per-batch layout.

    The state file defaults to ``<checkpoint>/_token_offset.json`` so its
    lifecycle is TIED to the checkpoint: wiping the checkpoint to
    reprocess from scratch wipes the offset with it (a stale offset
    against a fresh checkpoint would silently shift every assignment).
    ``out_path`` must be wiped TOGETHER with the checkpoint — batch
    numbering restarts at 0 for a fresh checkpoint, so reprocessing into
    an old output directory would overwrite its early batches while
    leaving later ones stale. This is ENFORCED at stream start: if the
    output's commit markers (or compaction pointer) record a readable
    query id different from the current checkpoint's — a fresh
    checkpoint included — the call raises instead of silently
    corrupting the output.

    ``options`` pass through to the parquet writer (e.g. compression).
    """
    from mini_etl_spark.functions.splits import token_balanced_shard_ids

    if tokens_per_shard < 1:
        raise ValueError("stream_token_shards: tokens_per_shard must be >= 1")
    if compact_every is not None and compact_every < 2:
        raise ValueError("stream_token_shards: compact_every must be >= 2")
    if max_segments < 1:
        raise ValueError("stream_token_shards: max_segments must be >= 1")
    if shard_col == "batch" or "batch" in stream_df.columns:
        raise ValueError(
            "stream_token_shards: a column named 'batch' (shard_col or "
            "input) collides with the per-batch publish partition "
            "directory — partition discovery would shadow the data "
            "column and read_token_shards drops it. Rename it upstream."
        )
    state = state_path or (checkpoint.rstrip("/") + "/_token_offset.json")

    # legacy-layout guard (once, at call time — the condition can only be
    # true before the stream starts): output written by the pre-manifest
    # version (flat shard=K/ at the root, no _commits/) must not be
    # silently continued — the mixed depths break partition discovery and
    # read_token_shards would drop every pre-upgrade row
    session = stream_df.sparkSession
    fs, commits = _state_io(session, _commit_dir(out_path))
    if not fs.exists(commits) and any(
        st.getPath().getName().startswith(f"{shard_col}=")
        for st in _children(session, out_path)
    ):
        raise ValueError(
            f"stream_token_shards: {out_path!r} holds a legacy flat shard "
            "layout (pre-manifest). Point out_path at a fresh directory, "
            "or migrate the old files into a batch=<n>/ directory with a "
            "matching _commits/<n>.json marker."
        )
    # incarnation guard (once, at call time): the output's commit markers
    # and compaction pointer persist the query id of the checkpoint that
    # produced them
    _incarnation_guard(session, "stream_token_shards", out_path, checkpoint,
                       _existing_output_query_ids(session, out_path))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qid = _checkpoint_query_id(spark, checkpoint)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # fold strictly-previous COMMITTED batches before this batch
            # publishes: a replay of this batch re-runs an identical
            # (idempotent) compaction and then overwrites its own
            # directory, so no row ever lands in both the generation and
            # a live batch dir
            _compact_output(
                spark, out_path, batch_id - 1, shard_col, qid,
                options=options, max_segments=max_segments,
            )
        offset = _resolve_offset(_read_state(spark, state), batch_id, qid)
        assigned = token_balanced_shard_ids(
            batch_df,
            text_col,
            id_col,
            tokens_per_shard,
            seed,
            keep_columns=True,
            token_count_col="__nt",
            start_offset=offset,
            clamp=False,
        )
        # base frame is materialized (localCheckpoint) inside the call —
        # the total is a cheap second action over it, not a recompute of
        # the batch plan; blocks release when the frame drops
        totals = assigned.agg(
            F.coalesce(F.sum("__nt"), F.lit(0)).alias("__t"),
            F.count(F.lit(1)).alias("__n"),
        ).first()
        batch_tokens, batch_rows = int(totals[0]), int(totals[1])
        if batch_rows == 0:
            # an empty batch (e.g. fully filtered upstream) publishes no
            # directory and no marker — a partitioned write of zero rows
            # leaves a dataless dir that breaks schema inference on read.
            # State is still advanced so replay bookkeeping stays exact.
            _write_state(spark, state, {
                "offset": offset, "prev_offset": offset,
                "batch_id": batch_id, "query_id": qid,
            })
            return
        writer = (
            assigned.withColumnRenamed("shard", shard_col)
            .drop("__nt")
            .write.mode("overwrite")
        )
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        batch_dir = f"{out_path.rstrip('/')}/batch={batch_id}"
        writer.partitionBy(shard_col).parquet(batch_dir)
        _write_state(
            spark,
            state,
            {
                "offset": offset + batch_tokens,
                "prev_offset": offset,
                "batch_id": batch_id,
                "query_id": qid,
            },
        )
        # commit marker LAST — the reader-visibility flip. A crash before
        # this line leaves the batch invisible to read_token_shards; the
        # replay rewrites the same directory and publishes the marker.
        _write_state(
            spark,
            f"{_commit_dir(out_path)}/{batch_id}.json",
            {
                "batch_id": batch_id,
                "query_id": qid,
                "tokens": batch_tokens,
                "offset_before": offset,
            },
        )
        logger.info(
            "stream_token_shards batch %d: %d tokens, offset now %d",
            batch_id, batch_tokens, offset + batch_tokens,
        )

    return _foreach_batch(stream_df, _apply, checkpoint, "append",
                          available_now, await_termination)


def _staging_batch_dirs(spark: SparkSession, seen: str) -> dict[int, str]:
    """Numeric ``batch=K`` staging directories under ``seen``. Flat data
    files at the staging ROOT (the oldest legacy layout, which appended
    ``part-*.parquet`` directly under ``seen``) would be silently
    ignored by the batch-directory read rule — every staged row from
    that era would vanish from the mixture — so their presence is an
    error, not a skip."""
    if any(st.isFile() and st.getPath().getName().endswith(".parquet")
           for st in _children(spark, seen)):
        raise ValueError(
            f"stream_temperature_mix: staging {seen!r} holds flat "
            "data files from the pre-batch layout; the "
            "batch-directory read rule would silently skip them. "
            "Migrate them into a batch=<n>/ subdirectory (any n "
            "below the checkpoint's next batch id), or wipe the "
            "staging together with the checkpoint."
        )
    return _numbered(spark, seen, "batch=")


def _read_staging(spark: SparkSession, seen: str) -> DataFrame | None:
    """The corpus-so-far: the sealed compacted segments the pointer lists
    (if any) plus every per-batch directory NEWER than its ``upto``.
    Directories already folded into the compaction pointer are excluded
    even if their deletion failed — orphans are invisible, and re-GC'd
    next compaction. Flat legacy data files at the root raise (see
    _staging_batch_dirs)."""
    root = seen.rstrip("/")
    st = _read_state(spark, root + "/_COMPACT.json")
    upto = int(st["upto"]) if st else -1
    dirs = [f"{root}/compact/{name}" for _, _, name in _pointer_segments(st)]
    dirs += [d for k, d in sorted(_staging_batch_dirs(spark, seen).items())
             if k > upto]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def _compact_staging(
    spark: SparkSession, seen: str, upto: int, max_segments: int = 16
) -> None:
    """Seal all ``batch=K`` dirs with ``prev_upto < K <= upto`` into one
    new IMMUTABLE segment (``compact/seg-<lo>-<hi>/``, repartitioned to
    ~128 MB files), LSM-merge the
    smallest-span adjacent pair while the segment list exceeds
    ``max_segments``, flip the ``_COMPACT.json`` pointer (carrying the
    segment list) atomically, then best-effort delete the superseded
    directories. Same write-amplification bound as
    :func:`_compact_output`: sealed segments are never rewritten, so a
    cycle's write cost is one batch-sized segment plus at most one
    merged pair — not the staging-so-far. GC here is immediate (no
    grace): staging is read only inside the same foreachBatch call, so
    there are no concurrent readers to protect.

    Crash-safe at every point: before the pointer flip the new
    directories are unreferenced (a replay re-runs the identical
    deterministic plan over them); after it, survivors of a failed
    delete are excluded by the read rule and re-swept next cycle.
    Idempotent on replay — re-running with the same ``upto`` rewrites
    identical content over the same directories and re-flips the pointer
    to the same value."""
    root = seen.rstrip("/")
    fs, _ = _state_io(spark, root)

    def _write_seg(df: DataFrame, sources: list[str], name: str) -> None:
        # size the rewrite from the file listing (metadata-only), same
        # rule as maintenance.compact_parquet: ~128 MB output files
        total_bytes = sum(
            fs.getContentSummary(_state_io(spark, d)[1]).getLength()
            for d in sources
        )
        n = max(1, -(-total_bytes // (128 * 1024 * 1024)))
        df.repartition(int(n)).write.mode("overwrite").parquet(
            f"{root}/compact/{name}"
        )

    batch_dirs = _staging_batch_dirs(spark, seen)
    _compact_segments(
        spark, root, upto, batch_dirs,
        lambda dirs: spark.read.parquet(*dirs),
        _write_seg, max_segments, grace=False, swept=batch_dirs.items(),
    )


def stream_temperature_mix(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    budget: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    repeat: bool = True,
    seen_path: str | None = None,
    compact_every: int | None = 8,
    max_segments: int = 16,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Streaming temperature-scaled mixture: accumulate arriving documents
    into a staging table (``seen_path``), re-run the deterministic batch
    :func:`~mini_etl_spark.functions.mixing.temperature_mix` over
    everything seen so far, and publish the result as an atomic snapshot
    under ``out_path`` (``snap={batch}`` + ``_LATEST`` pointer — read it
    back with :func:`mini_etl_spark.streaming.events.read_latest_snapshot`).

    Equivalence contract (pytest-gated): after the stream drains, the
    latest snapshot equals the batch ``temperature_mix`` over the full
    input — recompute-on-append over a deterministic operator IS the
    batch result, regardless of how the input was batched. That is the
    point of this shape: per-source quotas are a global property
    (``floor(budget · n_s**alpha / Σ w)``), so no per-batch state smaller
    than the per-source corpus can maintain them; the staging table +
    snapshot is the smallest honest incremental form.

    Staging lifecycle: ``seen_path`` defaults to ``<checkpoint>/_seen``
    so wiping the checkpoint to reprocess from scratch wipes the staged
    corpus with it — a stale staging table against a fresh checkpoint
    would mix already-processed documents into every new snapshot. If
    you pass an explicit ``seen_path``, wipe it together with the
    checkpoint. Every ``compact_every`` batches the per-batch staging
    directories are sealed into an immutable compacted segment
    (pointer-committed, replay-idempotent, crash-safe, LSM-merged when
    the list exceeds ``max_segments`` — see :func:`_compact_staging`),
    so the staging file count stays bounded at any trigger cadence
    instead of accruing one ``batch=K/`` directory forever, and each
    cycle's write cost is segment-sized, not staging-so-far.
    ``compact_every=None`` disables compaction.

    Incarnation safety (same protocol as the other snapshot sinks): the
    published ``_LATEST`` pointer records the checkpoint's query id, and
    starting a DIFFERENT checkpoint incarnation against an existing
    ``out_path`` raises at stream start — a fresh checkpoint restarts
    batch ids at 0, which would silently reuse ``snap=B`` names and let
    snapshot GC delete the old incarnation's directories. Wipe
    ``out_path`` together with the checkpoint (and staging) to start
    over.
    """
    from mini_etl_spark.functions.mixing import temperature_mix

    if budget <= 0:
        raise ValueError("stream_temperature_mix: budget must be positive")
    if compact_every is not None and compact_every < 2:
        raise ValueError("stream_temperature_mix: compact_every must be >= 2")
    if max_segments < 1:
        raise ValueError("stream_temperature_mix: max_segments must be >= 1")
    _incarnation_guard(stream_df.sparkSession, "stream_temperature_mix",
                       out_path, checkpoint,
                       [_read_pointer(out_path).get("query_id")])
    seen = seen_path or (checkpoint.rstrip("/") + "/_seen")
    if seen_path is None:
        # migration guard (once, at call time): an earlier version staged
        # under <out_path>_seen — resuming its checkpoint with the new
        # checkpoint-scoped default would silently drop every previously
        # staged document from the mixture (the checkpoint blocks
        # re-delivery of the old input)
        fs, legacy = _state_io(
            stream_df.sparkSession, out_path.rstrip("/") + "_seen"
        )
        if fs.exists(legacy):
            raise ValueError(
                "stream_temperature_mix: found a legacy staging "
                f"directory at {out_path.rstrip('/')}_seen but "
                "seen_path was not given (staging now defaults "
                "under the checkpoint). Pass seen_path pointing at "
                "the legacy directory to continue it (flat pre-batch "
                "layouts are detected and refused on read), or remove "
                "it together with the checkpoint to start fresh."
            )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            # same guard as stream_token_shards: a zero-row partitioned
            # write leaves a DATALESS batch=K dir (only _SUCCESS) that
            # breaks parquet schema inference when it is the first/only
            # staging dir — and the staged corpus, mixture and snapshot
            # are all unchanged by an empty batch anyway
            return
        # one OVERWRITTEN directory per batch id, so an at-least-once
        # replay of a crashed batch lands on the same directory instead
        # of appending duplicate rows into the staging corpus; the
        # `batch` partition value never reaches the mixture (directories
        # are read explicitly, not via partition discovery)
        batch_df.write.mode("overwrite").parquet(
            f"{seen.rstrip('/')}/batch={batch_id}"
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # fold strictly-previous batches only: the current batch dir
            # stays outside the sealed segments, so a replay of this
            # batch re-runs an identical (idempotent) compaction and then
            # overwrites its own directory — no row ever lands in both
            _compact_staging(
                spark, seen, upto=batch_id - 1, max_segments=max_segments
            )
        full = _read_staging(spark, seen)
        if full is None:  # nothing staged yet (unreachable after a write)
            return
        mixed = temperature_mix(
            full, budget, alpha, source_col, id_col, seed, repeat
        )
        _publish_snapshot(
            mixed, out_path, batch_id,
            _checkpoint_query_id(spark, checkpoint),
        )

    return _foreach_batch(stream_df, _apply, checkpoint, "update",
                          available_now, await_termination)
