"""Training-shard export: write a corpus as exactly-N deterministic shards.

Training jobs consume data as a fixed set of shard files (WebDataset /
tf.data-style): each worker streams its own subset, resume points are
"shard i, offset j", and re-exports must reproduce the same shard
membership so checkpointed runs stay valid. ``to_training_shards`` gives
that contract on top of the engine's deterministic md5 bucketing:

- shard id = ``hash_bucket(key, seed, num_shards)`` — the same
  engine-portable assignment the split/sample operators use, so a record's
  shard never changes across runs, engines, or corpus growth;
- the frame is hash-repartitioned ON the shard id, so every shard's rows
  land in one task → exactly one data file per non-empty shard, laid out
  hive-style (``shard=K/part-*.json``) and readable back with a plain
  ``spark.read.format(fmt).load(path)`` (the shard id comes back as a
  partition column, and shard-scoped reads prune to one directory);
- a ``_manifest.json`` next to the shards records per-shard row counts
  and the assignment parameters (the file a training launcher reads to
  hand shards to workers).

No reference parity: the reference has no sharded-export surface — this is
the training-data-pipeline extension (BASELINE.json north star).

Scale: one full shuffle on the shard id for the write, plus one scan of
the written shards for the manifest counts. ``num_shards`` should be
chosen so a shard fits a training worker's streaming budget (hundreds of
MB to a few GB), NOT one-file-per-executor; at 100 TB that's thousands of
shards, which is exactly what the single hash shuffle handles.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_spark.functions.splits import hash_bucket
from mini_etl_spark.sinks.writers import Sink, _spark_mode, _write_stream
from mini_etl_spark.statefile import _read_state, _session, _write_state

logger = logging.getLogger(__name__)

_FORMATS = {"jsonl": "json", "parquet": "parquet", "csv": "csv"}

# the exactly-one-file-per-shard + manifest contract only holds for a
# fresh write: "append" would stack part files per shard dir and the
# manifest would describe only the last batch; "ignore" would skip the
# data write yet still rewrite the manifest
_ALLOWED_MODES = {"w", "overwrite", "replace", "error", "fail"}
_MANIFEST = "_manifest.json"


def to_training_shards(
    path: str,
    num_shards: int | None = None,
    key_col: str = "doc_id",
    fmt: str = "jsonl",
    mode: str = "w",
    seed: int = 42,
    shard_col: str = "shard",
    manifest: bool = True,
    tokens_per_shard: int | None = None,
    text_col: str = "text",
    checkpoint: str | None = None,
    compact_every: int | None = 64,
    max_segments: int = 16,
    **options,
) -> Sink:
    """Sink: write deterministic training shards under ``path`` (hive
    layout ``shard=K/``), one data file per non-empty shard, plus
    ``_manifest.json`` with per-shard row counts.

    Two balancing modes, exactly one selected:

    - ``num_shards=N``: md5-bucket assignment — exactly N shards with
      ~equal ROW counts (stable under corpus growth).
    - ``tokens_per_shard=B``: token-mass cuts along the deterministic
      md5 layout (:func:`~mini_etl_spark.functions.splits.
      token_balanced_shard_ids` — distributed prefix sum, documents
      whole) — as many shards as the corpus' token total requires, each
      within one document of B tokens. The balance training consumes.

    ``fmt``: ``jsonl`` (default — one JSON object per line, the common
    LLM-training interchange), ``parquet``, or ``csv`` (header on).
    Extra ``options`` pass through to the writer (e.g. ``compression``).

    The manifest is counted from the WRITTEN shards (one scan of the
    just-materialized output — never a recompute of the input plan), so
    it always agrees with the files on disk, and is published atomically
    after the data (a :mod:`~mini_etl_spark.statefile` tmp+rename, so a
    crash mid-write never leaves a torn ``_manifest.json``);
    ``manifest=False`` skips it.

    ``mode`` accepts only fresh-write modes (overwrite / error): append
    or ignore would break the one-file-per-shard and manifest contracts.

    STREAMING frames shard incrementally instead of raising:
    ``num_shards`` mode is a stateless per-row hash assignment, so it
    runs as a plain checkpointed availableNow partitioned append;
    ``tokens_per_shard`` mode delegates to
    :func:`mini_etl_spark.streaming.corpus.stream_token_shards` (the
    offset-carrying foreachBatch twin — per-batch ``batch=B/shard=K/``
    directories with commit markers; read exactly-once with
    :func:`mini_etl_spark.streaming.read_token_shards`). Streaming
    writes are parquet, append-mode by nature, and skip the batch-mode
    manifest (an unbounded stream has no final shard census — read
    counts from the files).

    Streaming output RETENTION: every ``compact_every`` micro-batches
    (default 64; ``None`` disables) the committed batch directories are
    sealed into an IMMUTABLE shard-partitioned segment behind an atomic
    pointer carrying the segment list — crash-safe, replay-idempotent,
    with a one-cycle GC grace for concurrent readers — so directory,
    file and marker counts stay bounded at any trigger cadence instead
    of accruing one ``batch=B/`` directory per micro-batch forever.
    Sealed segments are never rewritten; when the list exceeds
    ``max_segments`` (default 16) the two adjacent segments with the
    smallest combined span LSM-merge, so each cycle's write cost is
    bounded by segment size — not the output-so-far. The checkpoint
    (default ``<path>_checkpoint``) and ``path`` must always be wiped
    TOGETHER to reprocess from scratch — enforced at stream start via
    the query id persisted in the commit markers.
    """
    if (num_shards is None) == (tokens_per_shard is None):
        raise ValueError(
            "to_training_shards: pass exactly one of num_shards (row "
            "balance) or tokens_per_shard (token balance)"
        )
    if num_shards is not None and num_shards < 1:
        raise ValueError("to_training_shards: num_shards must be >= 1")
    if tokens_per_shard is not None and tokens_per_shard < 1:
        raise ValueError("to_training_shards: tokens_per_shard must be >= 1")
    if fmt not in _FORMATS:
        raise ValueError(
            f"to_training_shards: fmt must be one of {sorted(_FORMATS)}, got {fmt!r}"
        )
    if mode not in _ALLOWED_MODES:
        raise ValueError(
            "to_training_shards: mode must be a fresh-write mode "
            f"({sorted(_ALLOWED_MODES)}), got {mode!r} — append/ignore would "
            "desync the manifest and the one-file-per-shard layout"
        )
    spark_fmt = _FORMATS[fmt]
    spark_mode = _spark_mode(mode)

    def _write(df: DataFrame) -> None:
        if shard_col in df.columns:
            raise ValueError(
                f"to_training_shards: column {shard_col!r} already exists"
            )
        if df.isStreaming:
            if fmt != "parquet":
                raise ValueError(
                    "to_training_shards (streaming): fmt must be 'parquet' "
                    f"— got {fmt!r}"
                )
            ckpt = checkpoint or (path.rstrip("/") + "_checkpoint")
            if tokens_per_shard is not None:
                from mini_etl_spark.streaming.corpus import stream_token_shards

                # return the finished query: Pipeline.run reads observed
                # row metrics from its recentProgress for streaming stats
                return stream_token_shards(
                    df, path, ckpt, tokens_per_shard,
                    text_col=text_col, id_col=key_col, seed=seed,
                    shard_col=shard_col, compact_every=compact_every,
                    max_segments=max_segments, options=dict(options),
                )
            sharded = df.withColumn(
                shard_col, hash_bucket(key_col, seed=seed, num_buckets=num_shards)
            )
            return _write_stream(
                sharded, path, "parquet", ckpt, dict(options),
                partition_by=[shard_col],
            )
        n_out_token = None
        if tokens_per_shard is not None:
            from mini_etl_spark.functions.splits import token_balanced_shard_ids

            # keep_columns: the assignment frame carries every payload
            # column, so there is NO join back on key_col — duplicate
            # keys cannot multiply written rows and NULL keys cannot
            # silently vanish through an inner join. with_total: the
            # shard count falls out of the driver-side bucket totals,
            # not an extra full pass over the corpus. The token-count
            # column uses an internal name so a payload column named
            # n_tokens (lm_score et al. emit one) survives the write —
            # dropping the bare name would take both copies with it.
            assigned, n_out = token_balanced_shard_ids(
                df,
                text_col,
                key_col,
                tokens_per_shard,
                seed,
                keep_columns=True,
                with_total=True,
                token_count_col="__n_tokens",
            )
            n_out_token = n_out
            sharded = (
                assigned.withColumnRenamed("shard", shard_col)
                .drop("__n_tokens")
                .repartition(max(n_out, 1), F.col(shard_col))
            )
        else:
            sharded = df.withColumn(
                shard_col, hash_bucket(key_col, seed=seed, num_buckets=num_shards)
            ).repartition(num_shards, F.col(shard_col))
        writer = sharded.write.mode(spark_mode).partitionBy(shard_col)
        if fmt == "csv":
            writer = writer.option("header", True)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.format(spark_fmt).save(path)
        if manifest:
            spark = df.sparkSession
            # count the WRITTEN output, not the input: one scan of the
            # materialized shards, guaranteed consistent with the files
            # the manifest describes (the input plan is never re-run)
            reader = spark.read.format(spark_fmt)
            if fmt == "csv":
                reader = reader.option("header", True)
            counts = {
                int(r[shard_col]): int(r["__n"])
                for r in reader.load(path)
                .groupBy(shard_col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .collect()
            }
            # token mode: n_out is the driver-computed window count —
            # shards wholly covered by one oversized document produce no
            # rows, and the manifest records them as zero-row entries
            # (max(written)+1 would silently omit them)
            n_written = num_shards if num_shards is not None else n_out_token
            doc = {
                "num_shards": n_written,
                "key_col": key_col,
                "seed": seed,
                "format": fmt,
                "shard_col": shard_col,
                "shards": {str(i): counts.get(i, 0) for i in range(n_written)},
                "total_rows": sum(counts.values()),
            }
            if tokens_per_shard is not None:
                doc["tokens_per_shard"] = tokens_per_shard
            _write_state(spark, f"{path.rstrip('/')}/{_MANIFEST}", doc)
            logger.info(
                "to_training_shards: %d rows into %d shards at %s",
                doc["total_rows"], doc["num_shards"], path,
            )

    return _write


def read_shard_manifest(path: str, spark: SparkSession | None = None) -> dict:
    """Load the ``_manifest.json`` written by :func:`to_training_shards`.

    Resolved through the Hadoop FileSystem API (URI schemes work); pass
    ``spark`` explicitly when no session is active."""
    spark = _session(spark, "read_shard_manifest")
    doc = _read_state(spark, f"{path.rstrip('/')}/{_MANIFEST}")
    if not doc:
        raise FileNotFoundError(f"read_shard_manifest: no {_MANIFEST} under {path!r}")
    return doc
