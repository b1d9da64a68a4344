"""Writer implementations. See package docstring for the parity table."""

from __future__ import annotations

import logging
from collections.abc import Callable
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

Sink = Callable[[DataFrame], None]

_MODE_MAP = {
    # reference file modes (loaders.py:65-86) and SQL if_exists (loaders.py:264-266)
    "w": "overwrite",
    "a": "append",
    "overwrite": "overwrite",
    "append": "append",
    "replace": "overwrite",
    "fail": "error",
    "error": "error",
    "ignore": "ignore",
}


def _spark_mode(mode: str) -> str:
    if mode not in _MODE_MAP:
        raise ValueError(f"unsupported write mode {mode!r}")
    return _MODE_MAP[mode]


# rows above which a documented driver-side path (Excel, JSON array,
# in-memory source) warns that it is buffering on the driver — the size
# guard mirroring the reference's JSON-array warning (loaders.py:129-133)
DRIVER_PATH_WARN_ROWS = 1_000_000


def _guard_driver_rows(df: DataFrame, op: str, max_rows: int | None) -> None:
    """Size guard for driver-side small-data paths: refuse to buffer a
    frame larger than ``max_rows`` on the driver. ``None`` disables the
    probe entirely (those paths already log a generic buffering
    warning) — no extra job on the default path. The probe is a LIMITED
    count — ``limit(max_rows+1).count()`` stops producing rows as soon
    as the bound is passed, so rejecting a huge frame never pays more
    than ``max_rows+1`` rows of work."""
    if max_rows is None:
        return
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{op}: result exceeds max_driver_rows={max_rows} (a documented "
            "driver-side small-data path) — raise max_driver_rows "
            "explicitly, or use a distributed sink (parquet/JSONL/CSV)"
        )


def _write_stream(
    df: DataFrame,
    path: str,
    fmt: str,
    checkpoint: str | None,
    options: dict,
    partition_by: list[str] | None = None,
):
    """Streaming twin of the file writers: checkpointed availableNow
    append — runs as an incremental batch over pending input and
    terminates (exactly-once across restarts via the checkpoint; the
    scheduled-ETL mode). Checkpoint defaults to ``<path>/_checkpoint`` —
    the underscore prefix hides it from file-listing reads of the
    output. Returns the finished StreamingQuery (progress carries sink
    row counts for pipeline stats)."""
    import os

    from mini_etl_spark.streaming.publish import _start_query

    writer = (
        df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint or os.path.join(path, "_checkpoint"))
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    return _start_query(writer)


def to_csv(
    path: str,
    mode: str = "w",
    header: bool = True,
    single_file: bool = False,
    checkpoint: str | None = None,
    **options: Any,
) -> Sink:
    """CSV writer (⇐ CSVLoader, loaders.py:18-99). Parent dirs are created by
    Spark; header handling is per-file (the reference's first-chunk-only
    header logic is a chunk artifact). Streaming frames write through the
    checkpointed availableNow path (append-only; ``mode`` is a batch
    concept and is ignored)."""

    def _write(df: DataFrame) -> None:
        if df.isStreaming:
            return _write_stream(
                df, path, "csv", checkpoint,
                {"header": str(header).lower(), **options},
            )
        out = df.coalesce(1) if single_file else df
        writer = out.write.mode(_spark_mode(mode)).option("header", str(header).lower())
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.csv(path)

    return _write


def to_json(
    path: str,
    mode: str = "w",
    lines: bool = True,
    single_file: bool = False,
    checkpoint: str | None = None,
    max_driver_rows: int | None = None,
    **options: Any,
) -> Sink:
    """JSON writer (⇐ JSONLoader, loaders.py:102-194). ``lines=True`` (JSONL)
    is the distributed path. ``lines=False`` writes a single JSON array —
    driver-side and memory-bounded, warned against exactly as the reference
    warns (loaders.py:129-133); pass ``max_driver_rows`` to make the guard
    an error instead of a warning (a limited count probes the size before
    anything is buffered). Streaming frames write through the
    checkpointed availableNow path (JSONL only)."""

    def _write(df: DataFrame) -> None:
        if df.isStreaming:
            if not lines:
                raise ValueError("streaming JSON sink requires lines=True (JSONL)")
            return _write_stream(df, path, "json", checkpoint, dict(options))
        if not lines:
            logger.warning(
                "to_json(lines=False) buffers the full result on the driver; "
                "use JSONL for large outputs"
            )
            _guard_driver_rows(df, "to_json(lines=False)", max_driver_rows)
            pdf = df.toPandas()
            target = Path(path)
            target.parent.mkdir(parents=True, exist_ok=True)
            pdf.to_json(target, orient="records", date_format="iso")
            return
        out = df.coalesce(1) if single_file else df
        writer = out.write.mode(_spark_mode(mode))
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.json(path)

    return _write


def to_parquet(
    path: str,
    mode: str = "w",
    partition_by: list[str] | None = None,
    compression: str | None = None,
    sort_by: list[str] | None = None,
    sort_partitions: int | None = None,
    checkpoint: str | None = None,
    **options: Any,
) -> Sink:
    """Parquet writer (⇐ ParquetLoader, loaders.py:279-378). ``partition_by``
    maps its hive-style ``partition_cols`` (loaders.py:352-378) to Spark's
    native ``partitionBy`` — at scale, choose low-cardinality partition keys
    (date, region), never high-cardinality ids.

    ``sort_by``: range-repartition + sort-within-partitions on these
    columns before writing, so each output file covers a narrow value
    range — parquet row-group min/max stats then let later scans with
    predicates on those columns skip whole files (the poor man's
    clustering; use for the 1-2 columns your queries filter on most).
    ``sort_partitions`` pins the output file count (an explicit count is
    exempt from AQE coalescing; default lets AQE size the shuffle).

    ``mode="refresh"`` (requires ``partition_by``) is dynamic partition
    overwrite: only the hive partitions PRESENT IN THE FRAME are replaced,
    every other partition is left untouched — the incremental-backfill
    write (recompute one day/source, drop it in place) that plain
    ``overwrite`` would turn into a full-table wipe. Scoped via the
    writer-level ``partitionOverwriteMode=dynamic`` option (not the
    session conf), so concurrent writes on one session can't interfere.

    Streaming frames write through the checkpointed availableNow path
    (append-only micro-batches; ``sort_by`` is a batch-layout concept and
    is rejected — compact/cluster the landed files with
    ``maintenance.compact_parquet`` instead)."""

    def _write(df: DataFrame) -> None:
        if df.isStreaming:
            if sort_by:
                raise ValueError(
                    "to_parquet(sort_by=...) is batch-only; compact the "
                    "streamed output with maintenance.compact_parquet"
                )
            if mode == "refresh":
                raise ValueError(
                    "to_parquet(mode='refresh') is batch-only; streams "
                    "append via the checkpointed path"
                )
            opts = dict(options)
            if compression:
                opts["compression"] = compression
            return _write_stream(df, path, "parquet", checkpoint, opts, partition_by)
        if sort_by:
            if sort_partitions:
                df = df.repartitionByRange(sort_partitions, *sort_by)
            else:
                df = df.repartitionByRange(*sort_by)
            df = df.sortWithinPartitions(*sort_by)
        refresh = mode == "refresh"
        if refresh and not partition_by:
            raise ValueError(
                "to_parquet(mode='refresh') requires partition_by — dynamic "
                "partition overwrite replaces whole hive partitions"
            )
        writer = df.write.mode("overwrite" if refresh else _spark_mode(mode))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if compression:
            writer = writer.option("compression", compression)
        for k, v in options.items():
            writer = writer.option(k, v)
        if refresh:
            # per-write option, NOT the session conf: the option is scoped
            # to this DataFrameWriter (takes precedence over the conf), so
            # concurrent writers on the same session can't race each other
            # into a static full-table overwrite.
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(path)

    return _write


def to_orc(
    path: str,
    mode: str = "w",
    partition_by: list[str] | None = None,
    compression: str | None = None,
    **options: Any,
) -> Sink:
    """ORC writer (format extension — see sources.read_orc). Same surface
    as to_parquet."""

    def _write(df: DataFrame) -> None:
        writer = df.write.mode(_spark_mode(mode))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if compression:
            writer = writer.option("compression", compression)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.orc(path)

    return _write


def to_xml(
    path: str,
    mode: str = "w",
    row_tag: str = "row",
    root_tag: str = "rows",
    **options: Any,
) -> Sink:
    """XML writer (format extension — built-in ``xml`` data source in
    Spark 4; see sources.read_xml). One XML document per partition file,
    ``root_tag`` wrapping ``row_tag`` elements — distributed, no driver
    funnel."""

    def _write(df: DataFrame) -> None:
        writer = (
            df.write.mode(_spark_mode(mode))
            .format("xml")
            .option("rowTag", row_tag)
            .option("rootTag", root_tag)
        )
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.save(path)

    return _write


def to_parquet_bucketed(
    table: str,
    bucket_by: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> Sink:
    """Bucketed parquet table (``bucketBy`` + ``saveAsTable``): rows are
    hash-partitioned into ``num_buckets`` files per partition by the bucket
    keys and optionally sorted within buckets.

    This is the 100 TB co-location tool: two tables bucketed the same way
    join WITHOUT a shuffle (Catalyst sees the matching output partitioning
    — asserted in tests/test_bucketing.py), and aggregations on the bucket
    keys skip their exchange too. Costs one shuffle at write time; amortize
    over many reads. Requires a metastore-backed table name rather than a
    bare path (bucketing metadata lives in the catalog)."""

    def _write(df: DataFrame) -> None:
        keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        writer = df.write.mode(_spark_mode(mode)).bucketBy(num_buckets, *keys)
        if sort_by is not None:
            sort_keys = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            writer = writer.sortBy(*sort_keys)
        writer.format("parquet").saveAsTable(table)

    return _write


def to_jdbc(
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    **options: Any,
) -> Sink:
    """JDBC writer (⇐ SQLLoader, loaders.py:197-276). ``if_exists``
    fail/replace/append ⇒ error/overwrite/append; executors write in
    parallel (one connection per partition) instead of the reference's
    single chunked ``to_sql`` session."""

    def _write(df: DataFrame) -> None:
        writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in (properties or {}).items():
            writer = writer.option(k, v)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.mode(_spark_mode(mode)).save()

    return _write


def to_excel(
    path: str,
    sheet_name: str = "Sheet1",
    mode: str = "w",
    max_driver_rows: int | None = 1_048_575,
    **kwargs: Any,
) -> Sink:
    """Excel writer (⇐ ExcelLoader, loaders.py:381-450). Inherently
    driver-local (the reference fully buffered too, loaders.py:420-432);
    ``mode='a'`` replicates its append (re-read existing sheet + concat,
    loaders.py:437-446). Prefers pandas' engine (openpyxl) when installed;
    otherwise falls back to the bundled pure-stdlib codec
    (``mini_etl_spark.xlsx``).

    ``max_driver_rows`` defaults to the xlsx format's hard sheet limit
    (1,048,576 rows) MINUS the header row pandas writes: above it the
    output would be an invalid workbook anyway, so the guard raises
    BEFORE buffering the frame on the driver (a limited count probes the
    size). In append mode the existing sheet's rows count against the
    same budget. Pass ``None`` to disable."""
    if mode not in ("w", "a"):
        raise ValueError("to_excel: mode must be 'w' or 'a'")

    def _write(df: DataFrame) -> None:
        import pandas as pd

        logger.warning("to_excel buffers the full result on the driver")
        target = Path(path)
        existing = None
        if mode == "a" and target.exists():
            try:
                existing = pd.read_excel(target, sheet_name=sheet_name)
            except ImportError:  # openpyxl missing → stdlib codec
                from mini_etl_spark.xlsx import read_xlsx

                existing = read_xlsx(str(target), sheet_name=sheet_name)
        budget = max_driver_rows
        if budget is not None and existing is not None:
            budget = max(0, budget - len(existing))
        _guard_driver_rows(df, "to_excel", budget)
        pdf = df.toPandas()
        if existing is not None:
            pdf = pd.concat([existing, pdf], ignore_index=True)
        target.parent.mkdir(parents=True, exist_ok=True)
        try:
            pdf.to_excel(target, sheet_name=sheet_name, index=False, **kwargs)
        except ImportError:  # openpyxl missing → stdlib codec
            from mini_etl_spark.xlsx import write_xlsx

            write_xlsx(pdf, str(target), sheet_name=sheet_name)

    return _write


def multi_sink(sinks: list[Sink]) -> Sink:
    """Fan-out (⇐ MultiLoader, loaders.py:453-484). The reference buffered
    the whole stream and replayed it per loader; here the plan is computed
    once into a persisted DataFrame and each sink runs its own action —
    bounded by executor storage (with disk spill), not driver memory."""

    def _write(df: DataFrame) -> None:
        cached = df.persist()
        try:
            for sink in sinks:
                sink(cached)
        finally:
            cached.unpersist()

    return _write


def null_sink(counter: dict | None = None) -> Sink:
    """Dry-run sink (⇐ NullLoader, loaders.py:487-509): consume and discard,
    optionally recording row count into ``counter``. The count rides on the
    same job via ``observe`` — no second pass over the data."""

    def _write(df: DataFrame) -> None:
        if counter is None:
            df.write.format("noop").mode("overwrite").save()
            return
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        counter["rows"] = counter.get("rows", 0) + obs.get["rows"]

    return _write


def callback_sink(
    func: Callable,
    on_complete: Callable[[], None] | None = None,
    driver_side: bool = False,
) -> Sink:
    """Per-batch callback (⇐ CallbackLoader, loaders.py:512-546).

    Default: ``func(pandas.DataFrame)`` runs on **executors**, one call per
    partition (the distributed analogue of per-chunk callbacks — func must be
    picklable and side-effect-safe per partition). ``driver_side=True``
    streams partitions to the driver via ``toLocalIterator`` for callbacks
    that must run in the driver process (bounded by one partition at a time,
    not the full result)."""

    def _write(df: DataFrame) -> None:
        if driver_side:
            import pandas as pd

            # toLocalIterator fetches ONE partition at a time — driver memory
            # is bounded by a partition, never the full result. Rows are
            # re-batched into pandas frames for the callback.
            cols = df.columns
            buf: list = []
            for row in df.toLocalIterator(prefetchPartitions=False):
                buf.append(row)
                if len(buf) >= 10_000:
                    func(pd.DataFrame.from_records(buf, columns=cols))
                    buf = []
            if buf:
                func(pd.DataFrame.from_records(buf, columns=cols))
        else:
            def _per_partition(batches):
                for pdf in batches:
                    func(pdf)
                    yield pdf.iloc[0:0]

            df.mapInPandas(_per_partition, schema=df.schema).write.format(
                "noop"
            ).mode("overwrite").save()
        if on_complete is not None:
            on_complete()

    return _write
