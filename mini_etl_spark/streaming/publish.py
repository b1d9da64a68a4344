"""The publication protocol every exactly-once streaming sink shares.

The sinks in :mod:`~mini_etl_spark.streaming.events` and
:mod:`~mini_etl_spark.streaming.corpus` are ``foreachBatch`` functions
over the same few protocol steps; each step is implemented once, here:

- **query start** — :func:`_start_query` (every checkpointed sink) and
  :func:`_foreach_batch` (the foreachBatch build in front of it);
- **state files** — pointers, commit markers and offsets are small
  JSON documents written and read through :mod:`mini_etl_spark.statefile`
  (Hadoop FileSystem I/O, tmp+rename publish, ``.bak`` recovery), the
  protocol every marker the engine persists shares;
- **incarnation guard** — refuse to continue a target produced under a
  different checkpoint (:func:`_incarnation_guard`);
- **snapshot publish** — ``snap=B`` plus an atomically flipped
  ``_LATEST`` pointer and a replay-safe merge base
  (:func:`_publish_snapshot`, :func:`_merge_base`), composed into the
  snapshot-merge sink skeleton :func:`_snapshot_merge_sink`;
- **batch-partition publish** — ``batch_id=B`` dynamic partition
  overwrite (:func:`_publish_batch_partition`), composed into the gate
  skeleton :func:`_batch_partition_gate`;
- **segment compaction** — seal the tail segment, LSM-merge, flip the
  ``_COMPACT.json`` pointer, GC (:func:`_compact_segments`).
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_spark.statefile import (
    _children,
    _delete,
    _numbered,
    _read_state,
    _read_text,
    _state_io,
    _write_state,
)

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# query start
# ---------------------------------------------------------------------------


# A continuous query starts a micro-batch at most this often. Each batch
# pays a fixed planning and checkpoint-commit cost, so batching whatever
# arrived in the interval beats committing back to back.
_CONTINUOUS_TRIGGER = "500 milliseconds"


def _start_query(writer, available_now: bool = True,
                 await_termination: bool = True):
    """Start a built ``DataStreamWriter``. ``available_now`` runs it as an
    incremental batch over all pending input (the scheduled-ETL mode) and,
    with ``await_termination``, returns it finished; otherwise the query
    keeps running, paced at one micro-batch per ``_CONTINUOUS_TRIGGER``,
    and is returned active. A batch that runs longer than the interval is
    followed at once by the next, so an overloaded query runs back to
    back as it would unpaced."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=_CONTINUOUS_TRIGGER)
    query = writer.start()
    if available_now and await_termination:
        query.awaitTermination()
    return query


def _foreach_batch(stream_df: DataFrame, apply, checkpoint: str,
                   output_mode: str, available_now: bool,
                   await_termination: bool):
    """Start ``apply(batch_df, batch_id)`` as a checkpointed foreachBatch
    query (see :func:`_start_query` for the flags)."""
    return _start_query(
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode),
        available_now,
        await_termination,
    )


def _checkpoint_query_id(spark: SparkSession, checkpoint: str) -> str:
    """The stable streaming-query id Structured Streaming persists at
    ``<checkpoint>/metadata`` — survives restarts of the same checkpoint,
    regenerates when the checkpoint is wiped. This is the identity that
    scopes batch ids: batch numbering restarts at 0 for a fresh
    checkpoint, so replay detection must never match a batch id recorded
    under a different checkpoint incarnation. Unreadable metadata returns
    ``""``, which replay detection treats as a WILDCARD match — the
    degraded mode keeps replay protection (conservative direction)
    instead of disabling it."""
    try:
        doc = _read_state(spark, checkpoint.rstrip("/") + "/metadata")
        return str(doc.get("id", ""))
    except Exception:  # metadata unreadable: degrade to wildcard matching
        return ""


# ---------------------------------------------------------------------------
# incarnation guard
# ---------------------------------------------------------------------------


def _incarnation_guard(spark: SparkSession, sink: str, target: str,
                       checkpoint: str, stored_ids: Iterable[str]) -> None:
    """Refuse to start ``sink`` against a ``target`` whose persisted
    query ids (``stored_ids``: the snapshot pointer's, or the commit
    markers' and compaction pointer's) name a DIFFERENT checkpoint
    incarnation, a fresh checkpoint included. Batch ids restart at 0 for
    a fresh checkpoint: a snapshot sink would misread batch 0 as a replay
    of the old ``snap=0`` and replace the accumulated state with one
    batch's delta; a per-batch sink would overwrite early batches while
    readers keep serving stale later ones. Skipped when the checkpoint
    EXISTS but its metadata is unreadable (the documented degraded
    mode); empty stored ids (pre-round-8 pointers) cannot positively
    identify a foreign incarnation and are ignored."""
    fs, meta = _state_io(spark, checkpoint.rstrip("/") + "/metadata")
    qid = _checkpoint_query_id(spark, checkpoint)
    if fs.exists(meta) and not qid:
        return  # degraded: metadata unreadable — wildcard mode
    foreign = sorted({str(q) for q in stored_ids if q and str(q) != qid})
    if foreign:
        raise ValueError(
            f"{sink}: {target!r} was produced by a different checkpoint "
            f"incarnation (query id(s) {foreign} != "
            f"{qid or '<fresh checkpoint>'!r}). Batch ids restart at 0 "
            "for a fresh checkpoint, so continuing would overwrite what "
            "the old incarnation published. Wipe the target TOGETHER "
            "with the checkpoint to reprocess from scratch, or resume "
            "the original checkpoint."
        )


# ---------------------------------------------------------------------------
# snapshot publish: snap=B + _LATEST
# ---------------------------------------------------------------------------


def _read_pointer(target_path: str) -> dict:
    """The ``_LATEST`` pointer as ``{"snap": name, "prev": name|None,
    "query_id": str, "legacy": bool}`` (empty dict when absent). Reads
    both formats: the JSON document written since round 8, and the
    original plain ``snap=B`` line — the latter flagged ``legacy`` so
    callers can tell "predecessor recorded as none" (a genuine first
    batch) from "predecessor never recorded" (pre-round-8 format), which
    :func:`_merge_base` must treat differently on replay."""
    spark = SparkSession.builder.getOrCreate()
    text = _read_text(spark, target_path.rstrip("/") + "/_LATEST")
    if text is None:
        return {}
    text = text.strip()
    if text.startswith("{"):
        doc = json.loads(text)
        return {
            "snap": doc["snap"],
            "prev": doc.get("prev"),
            "query_id": str(doc.get("query_id") or ""),
            "legacy": False,
        }
    return {"snap": text, "prev": None, "query_id": "", "legacy": True}


def _publish_snapshot(
    df: DataFrame, target_path: str, batch_id: int, query_id: str = ""
) -> None:
    """Write ``df`` as ``snap={batch_id}`` under ``target_path`` and flip
    the ``_LATEST`` pointer atomically (:func:`_write_state`) — the shared
    publication protocol of every snapshot-maintaining foreachBatch sink
    (upsert, LM trainer, CM sketch, temperature mix). The pointer flip
    being LAST is the crash-safety contract: a failure before it leaves
    the previous snapshot live and the orphan directory unreferenced.

    The pointer records the PREDECESSOR snapshot too: merge-shaped sinks
    use it (via :func:`_merge_base`) to rebuild a replayed batch from the
    state BEFORE that batch's earlier attempt, instead of double-merging
    into their own output — closing the crash window between the pointer
    flip and the checkpoint commit.

    Retention: superseded snapshot directories other than the new one
    and its recorded predecessor are deleted after the flip (one-cycle
    grace — anything a reader could have resolved through the pointer
    since the previous flip survives until the next one), so the
    directory count stays at ~2 at any trigger cadence. A replayed batch
    overwrites its own directory and re-records the same predecessor, so
    GC never touches a directory the replay still needs."""
    root = target_path.rstrip("/")
    spark = df.sparkSession
    prev = _read_pointer(root)
    name = f"snap={batch_id}"
    # a REPLAY's pointer may already name this batch's earlier attempt:
    # keep pointing prev at the true predecessor, not at ourselves
    prev_name = prev.get("snap")
    if prev_name == name:
        prev_name = prev.get("prev")
    df.write.mode("overwrite").parquet(f"{root}/{name}")
    _write_state(spark, f"{root}/_LATEST",
                 {"snap": name, "prev": prev_name, "query_id": query_id})
    _delete(spark, [
        path for k, path in _numbered(spark, root, "snap=").items()
        if f"snap={k}" not in (name, prev_name)
    ])


def _merge_base(spark: SparkSession, target_path: str, batch_id: int):
    """The snapshot a merge-shaped sink should fold batch ``batch_id``
    into: normally the pointer's current snapshot, but when the pointer
    already names ``snap={batch_id}`` — this batch's own earlier attempt,
    i.e. a checkpoint replay after a crash in the flip→commit window —
    the recorded PREDECESSOR, so the batch's rows are never merged twice.
    ``None`` when the base is empty (first batch, or a replayed first
    batch whose JSON pointer genuinely recorded no predecessor).

    A LEGACY plain-format pointer (pre-round-8: no predecessor ever
    recorded) that names the replayed batch is the one ambiguous case:
    treating the base as empty would REPLACE the accumulated state with
    this batch's delta alone — silent state loss. We fall back to the
    named snapshot instead (the documented pre-round-8 may-double-count
    behavior: conservative in the direction that keeps history) and log
    a loud warning so the upgrade-during-crash window is visible."""
    p = _read_pointer(target_path)
    if not p:
        return None
    name = p["snap"]
    if name == f"snap={batch_id}":
        if p.get("legacy"):
            logger.warning(
                "_merge_base: replayed batch %d found a LEGACY plain "
                "_LATEST pointer naming its own earlier attempt at %s — "
                "the predecessor was never recorded. Falling back to the "
                "named snapshot (pre-upgrade may-double-count behavior) "
                "rather than discarding the accumulated state.",
                batch_id, target_path,
            )
        else:
            name = p.get("prev")
            if name is None:
                return None
    return spark.read.parquet(f"{target_path.rstrip('/')}/{name}")


def read_latest_snapshot(spark: SparkSession, target_path: str) -> DataFrame | None:
    """Read the snapshot the ``_LATEST`` pointer names (see
    :func:`~mini_etl_spark.streaming.events.stream_upsert_to_parquet`);
    None when no snapshot exists yet. Consume the returned frame
    promptly: the publisher retains a superseded snapshot for one further
    publish cycle (the recorded predecessor), then GCs it."""
    p = _read_pointer(target_path)
    if not p:
        return None
    return spark.read.parquet(f"{target_path.rstrip('/')}/{p['snap']}")


def _snapshot_merge_sink(
    stream_df: DataFrame,
    sink: str,
    target_path: str,
    checkpoint: str,
    delta: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    output_mode: str,
    available_now: bool,
    await_termination: bool,
):
    """The snapshot-merge sink: incarnation guard at start, then per
    batch ``merge(base, delta(batch))`` (just the delta when the base is
    empty) over the replay-safe :func:`_merge_base`, published as
    ``snap=B`` with the checkpoint's query id in the pointer."""
    _incarnation_guard(
        stream_df.sparkSession, sink, target_path, checkpoint,
        [_read_pointer(target_path).get("query_id")],
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = delta(batch_df)
        # replay-safe base: a replayed batch re-merges into the
        # PREDECESSOR snapshot, so its rows are never merged twice
        current = _merge_base(spark, target_path, batch_id)
        _publish_snapshot(
            new if current is None else merge(current, new),
            target_path, batch_id, _checkpoint_query_id(spark, checkpoint),
        )

    return _foreach_batch(stream_df, _apply, checkpoint, output_mode,
                          available_now, await_termination)


# ---------------------------------------------------------------------------
# batch-partition publish: batch_id=B
# ---------------------------------------------------------------------------


def _guard_batch_partition_sink(
    stream_df: DataFrame, gate: str, *sink_paths: str | None
) -> None:
    """Shared preflight for the exactly-once streaming gates
    (classify/lm/drift), run on the driver BEFORE the query starts:

    - the input must not carry a ``batch_id`` column — it collides with
      the per-batch overwrite partition of the output;
    - each sink path must not hold ROOT-LEVEL data files (the pre-r12
      plain ``mode("append")`` layout): mixing root part files with
      ``batch_id=<B>`` subdirectories breaks Spark partition discovery
      ("Conflicting directory structures"), so resuming an old gate
      output fails HERE with a migration message instead of producing a
      dataset the reader can't open."""
    if "batch_id" in stream_df.columns:
        raise ValueError(
            f"{gate}: input column 'batch_id' collides with the "
            "per-batch overwrite partition of the output — rename it "
            "upstream."
        )
    for p in filter(None, sink_paths):
        if any(
            not s.getPath().getName().startswith(("_", ".", "batch_id="))
            for s in _children(stream_df.sparkSession, p)
        ):
            raise ValueError(
                f"{gate}: output {p!r} holds root-level data files from "
                "a pre-batch_id (plain append) run of this gate — mixing "
                "them with batch_id=<B> partitions breaks parquet "
                "partition discovery. Migrate the old output first, e.g. "
                "spark.read.parquet(old).write.parquet(elsewhere), then "
                "empty the directory (checkpoint state may be kept)."
            )


def _publish_batch_partition(
    out: DataFrame, out_path: str, batch_id: int
) -> None:
    """Exactly-once micro-batch publish for the streaming gates: the
    batch's rows land under their own ``batch_id=<B>`` hive partition via
    dynamic partition overwrite, so foreachBatch's at-least-once replay
    window (crash after the write, before the checkpoint commit)
    REPLACES the earlier attempt instead of appending a duplicate. Read
    with a plain ``spark.read.parquet(out_path)`` — ``batch_id`` arrives
    as a partition column; only a reader racing a mid-write batch can see
    a partially-written partition."""
    (
        out.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_path)
    )


def _batch_partition_gate(
    stream_df: DataFrame,
    gate: str,
    checkpoint: str,
    gate_batch: Callable[[DataFrame, int], tuple | None],
    available_now: bool,
    await_termination: bool,
    out_path: str,
    report_path: str | None = None,
):
    """The gate sink: :func:`_guard_batch_partition_sink` at start, then
    per batch ``gate_batch(batch_df, batch_id)`` returns the frames to
    publish to ``(out_path, report_path)`` in that order, each through
    :func:`_publish_batch_partition` (``None`` publishes nothing; a
    ``None`` path is skipped)."""
    _guard_batch_partition_sink(stream_df, gate, out_path, report_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        outs = gate_batch(batch_df, batch_id) or ()
        for out, path in zip(outs, (out_path, report_path)):
            if path is not None:
                _publish_batch_partition(out, path, batch_id)

    return _foreach_batch(stream_df, _apply, checkpoint, "append",
                          available_now, await_termination)


# ---------------------------------------------------------------------------
# segment compaction: seal, LSM-merge, flip, GC
# ---------------------------------------------------------------------------


def _seg_name(lo: int, hi: int) -> str:
    """A sealed segment's directory name under ``compact/`` — derived
    from the batch range it covers, never trusted from a persisted
    absolute path, so a copied/relocated output root keeps working.
    Deliberately NOT ``key=value``-shaped: partition discovery would
    otherwise parse the segment dir itself as a partition component and
    refuse multi-segment reads (CONFLICTING_DIRECTORY_STRUCTURES)."""
    return f"seg-{lo}-{hi}"


def _pointer_segments(st: dict) -> list[tuple[int, int, str]]:
    """``(lo, hi, relative dir name under compact/)`` for every sealed
    segment a ``_COMPACT.json`` pointer references, oldest first. Names
    are RELATIVE to the output root (relocation-safe — the pointer never
    stores an absolute path the reader would trust). A legacy pre-round-9
    pointer (``{"upto", "dir"}`` — the monolithic-generation era) maps to
    ONE segment covering ``0..upto`` under its historical ``upto=<n>``
    directory name; it is carried as a sealed segment from then on and
    eventually merged away by the normal LSM rule — no migration
    rewrite."""
    if not st:
        return []
    segs = st.get("segments")
    if segs is None:
        upto = int(st["upto"])
        return [(0, upto, f"upto={upto}")]
    return [(int(e[0]), int(e[1]), str(e[2])) for e in segs]


def _choose_merge(segments: list[tuple[int, int, str]]) -> int:
    """Index ``i`` of the adjacent pair ``(i, i+1)`` with the smallest
    combined batch span — the size-tiered (LSM-style) merge pick.
    Deterministic from the pointer alone (a replayed compaction must
    rewrite the SAME directories); leftmost wins ties so equal-span
    segments fold oldest-first."""
    best, best_span = 0, None
    for i in range(len(segments) - 1):
        span = (segments[i][1] - segments[i][0] + 1) + (
            segments[i + 1][1] - segments[i + 1][0] + 1
        )
        if best_span is None or span < best_span:
            best, best_span = i, span
    return best


def _compact_segments(
    spark: SparkSession,
    root: str,
    upto: int,
    batch_dirs: dict[int, str],
    read_batches: Callable[[list[str]], DataFrame],
    write_seg: Callable[[DataFrame, list[str], str], None],
    max_segments: int,
    grace: bool,
    swept: Iterable[tuple[int, str]],
    **pointer_fields,
) -> dict | None:
    """The compaction core: fold every ``batch_dirs`` entry with
    ``prev_upto < K <= upto`` into immutable segments behind the
    ``<root>/_COMPACT.json`` pointer, in three steps:

    1. **seal** those batches into ONE new tail segment
       ``compact/seg-<lo>-<hi>/`` (``lo`` tiles from ``prev_upto + 1``,
       so segment ranges partition ``0..upto`` even when some batch ids
       in the range were empty);
    2. **merge** the two adjacent segments with the smallest combined
       span (:func:`_choose_merge`) while the list exceeds
       ``max_segments`` — every other sealed segment is untouched, so a
       cycle writes one segment plus at most the merged pairs, and a row
       is rewritten O(log cycles) times over the stream's life;
    3. **flip** the pointer (``upto``, the segment list, plus
       ``pointer_fields``) atomically — the reader-visibility point.

    Then GC: ``compact/`` dirs the pointer no longer references and the
    ``swept`` ``(batch id, path)`` entries the pointer covers. With
    ``grace`` (concurrent readers) the PRE-flip pointer's segments are
    kept and only entries ``<= prev_upto`` — invisible since the previous
    flip — go, a one-cycle grace; without it everything the new pointer
    supersedes goes at once.

    The callers own the rest: which batches exist (``batch_dirs``), how
    they are read (``read_batches``; merges read one segment at a time,
    unioned, so each dir is its own partition-discovery base), and how a
    segment is written (``write_seg(df, source_dirs, name)``).

    Crash-safe at every point: before the flip the new directories are
    unreferenced (a replay re-runs the identical deterministic plan over
    them); after it, survivors of a failed GC are invisible to the read
    rules and re-swept next cycle. Idempotent on replay — a pointer at or
    past ``upto``, or nothing new to fold, is a no-op returning ``None``;
    otherwise returns ``{"upto", "segments", "folded_batches", "merges",
    "bytes_written"}``."""
    pointer = f"{root}/_COMPACT.json"
    st = _read_state(spark, pointer)
    prev_upto = int(st["upto"]) if st else -1
    new = [d for k, d in sorted(batch_dirs.items()) if prev_upto < k <= upto]
    if prev_upto >= upto or not new:
        return None
    prev_segments = _pointer_segments(st)
    segments = prev_segments + [
        (prev_upto + 1, upto, _seg_name(prev_upto + 1, upto))
    ]
    write_seg(read_batches(new), new, segments[-1][2])
    written = [segments[-1][2]]
    while len(segments) > max(1, max_segments):
        i = _choose_merge(segments)
        (lo, _, a), (_, hi, b) = segments[i], segments[i + 1]
        sources = [f"{root}/compact/{a}", f"{root}/compact/{b}"]
        written.append(_seg_name(lo, hi))
        write_seg(
            spark.read.parquet(sources[0]).unionByName(
                spark.read.parquet(sources[1])
            ),
            sources, written[-1],
        )
        segments[i:i + 2] = [(lo, hi, written[-1])]
    _write_state(spark, pointer, {
        "upto": upto,
        "segments": [[lo, hi, name] for lo, hi, name in segments],
        **pointer_fields,
    })
    fs, _ = _state_io(spark, root)
    bytes_written = sum(
        fs.getContentSummary(_state_io(spark, f"{root}/compact/{n}")[1])
        .getLength()
        for n in written
    )
    keep = {n for *_, n in segments}
    if grace:
        keep |= {n for *_, n in prev_segments}
    horizon = prev_upto if grace else upto
    _delete(spark, [
        f"{root}/compact/{s.getPath().getName()}"
        for s in _children(spark, f"{root}/compact")
        if s.getPath().getName() not in keep
    ] + [d for k, d in swept if k <= horizon])
    return {
        "upto": upto,
        "segments": len(segments),
        "folded_batches": len(new),
        "merges": len(written) - 1,
        "bytes_written": int(bytes_written),
    }
