"""High-water-mark incremental batch processing.

A training-data pipeline re-runs on a schedule; reprocessing 100 TB to
pick up yesterday's appends is not an option. This module implements the
classic cursor pattern: persist the max value of a monotonic column
(ingest timestamp, file date, sequence id) after each successful run, and
filter the next run's scan to ``cursor > watermark`` — a predicate
Catalyst pushes into the parquet scan, so old row groups/partitions are
skipped at the metadata level, not read-and-dropped.

State is one tiny JSON file, written as a Hadoop-FS state file
(:mod:`mini_etl_spark.statefile`: tmp+rename publish, ``.bak``
recovery). A URI (``file://``, ``hdfs://``, ``s3a://``) lands on its own
file system, and a plain path resolves against ``fs.defaultFS``, as
every data path does, so the next run finds the watermark from any
working directory or host. The cursor of the *current* batch is computed
with ``observe`` on the same job that processes it: no second scan, no
driver-side max over collected data.

No reference parity: the reference reprocesses full inputs every run —
this is part of the scale extension.
"""

from __future__ import annotations

import datetime
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mini_etl_spark.statefile import _read_state, _session, _write_state


def load_watermark(state_path: str) -> Any | None:
    """Read the persisted cursor (None before the first run)."""
    spark = _session(None, "load_watermark")
    return _read_state(spark, state_path).get("watermark")


def save_watermark(state_path: str, value: Any) -> None:
    """Atomically persist the cursor (tmp+rename, so a crashed run never
    leaves a torn state file). Timestamps are stored as ISO strings;
    Spark coerces them back in the ``cursor > watermark`` comparison."""
    if isinstance(value, (datetime.datetime, datetime.date)):
        value = value.isoformat(sep=" ")
    _write_state(_session(None, "save_watermark"), state_path,
                 {"watermark": value})


class IncrementalBatch:
    """One incremental pass over a growing dataset.

    >>> inc = IncrementalBatch("/state/events.json", cursor_col="event_id")
    >>> fresh = inc.filter_new(df)       # only rows past the watermark
    >>> ...transform fresh, write sink...
    >>> inc.commit()                     # advance AFTER the sink succeeded

    ``filter_new`` attaches an ``observe`` that records the batch's max
    cursor during whatever action the caller runs; ``commit`` persists it.
    Committing before running an action raises — the watermark may only
    advance once the data it covers has actually been processed.
    """

    def __init__(self, state_path: str, cursor_col: str):
        self.state_path = state_path
        self.cursor_col = cursor_col
        self._obs: Observation | None = None

    def filter_new(self, df: DataFrame) -> DataFrame:
        wm = load_watermark(self.state_path)
        if wm is not None:
            df = df.where(F.col(self.cursor_col) > F.lit(wm))
        self._obs = Observation()
        return df.observe(self._obs, F.max(self.cursor_col).alias("max_cursor"))

    def commit(self) -> Any | None:
        """Persist the max cursor seen by the processed batch. Returns the
        new watermark (unchanged if the batch was empty)."""
        if self._obs is None:
            raise RuntimeError("commit() before filter_new() — nothing was processed")
        new = self._obs.get["max_cursor"]  # blocks until an action has run
        if new is not None:
            save_watermark(self.state_path, new)
            return new
        return load_watermark(self.state_path)


# ---------------------------------------------------------------------------
# Incremental rollup (materialized-aggregate maintenance)
# ---------------------------------------------------------------------------
#
# The companion to the cursor: a 100 TB fact table's dashboard aggregates
# should not be recomputed from history every run. Aggregations over
# sum/count/min/max (and mean, via sum+count decomposition) are ALGEBRAIC —
# partial states merge associatively — so a rollup is maintained by
# aggregating only the new slice and merging it into the stored state:
# cost O(new data + state), never O(history).

_MERGEABLE = {"sum", "count", "min", "max", "mean", "nunique"}


def _state_cols(aggs: dict[str, list[str]]) -> list[tuple[str, str]]:
    """(col, fn) pairs of the stored state — mean decomposes to sum+count."""
    out: list[tuple[str, str]] = []
    for col, fns in aggs.items():
        for fn in fns:
            if fn not in _MERGEABLE:
                raise ValueError(
                    f"rollup: {fn!r} is not mergeable (supported: {sorted(_MERGEABLE)})"
                )
        needed = set(fns)
        if "mean" in needed:
            needed |= {"sum", "count"}
            needed.discard("mean")
        out.extend((col, fn) for fn in sorted(needed))
    return out


def rollup_partial(df: DataFrame, keys: list[str], aggs: dict[str, list[str]]) -> DataFrame:
    """Aggregate one slice into mergeable per-key state
    (``{col}__{fn}`` columns). One hash-aggregate with map-side combine.

    ``nunique`` stores a Datasketches HLL sketch (binary, fixed size per
    key) rather than a value set — COUNT(DISTINCT) is the one dashboard
    aggregate that is NOT algebraic over exact values, and the sketch is
    what makes it maintainable incrementally: states merge by sketch
    union (``rollup_merge``) and finalize to an estimate (±~2% at the
    default lgConfigK=12) in ``rollup_result``. The exact-recompute
    alternative reads all history every run; at 100 TB the sketch is the
    only viable maintenance path."""
    exprs = []
    for col, fn in _state_cols(aggs):
        if fn == "nunique":
            exprs.append(F.hll_sketch_agg(col).alias(f"{col}__{fn}"))
        else:
            agg_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[fn]
            exprs.append(agg_fn(col).alias(f"{col}__{fn}"))
    return df.groupBy(*keys).agg(*exprs)


def rollup_merge(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge partial states: union + one hash-aggregate with each column's
    merge function (sum/count merge by sum; min/max by min/max; nunique
    HLL sketches by sketch union)."""
    from functools import reduce

    unioned = reduce(lambda a, b: a.unionByName(b), states)
    exprs = []
    for c in unioned.columns:
        if c in keys:
            continue
        fn = c.rsplit("__", 1)[1]
        if fn == "nunique":
            exprs.append(F.hll_union_agg(c).alias(c))
            continue
        merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[fn]
        exprs.append(merge_fn(c).alias(c))
    return unioned.groupBy(*keys).agg(*exprs)


def rollup_result(
    state: DataFrame, keys: list[str], aggs: dict[str, list[str]]
) -> DataFrame:
    """Finalize a state into the requested aggregate columns
    (``{col}_{fn}``, matching group_agg's naming); mean = sum/count."""
    exprs = [F.col(k) for k in keys]
    for col, fns in aggs.items():
        for fn in fns:
            if fn == "mean":
                exprs.append(
                    (F.col(f"{col}__sum") / F.col(f"{col}__count")).alias(f"{col}_mean")
                )
            elif fn == "nunique":
                exprs.append(
                    F.hll_sketch_estimate(f"{col}__{fn}").alias(f"{col}_nunique")
                )
            else:
                exprs.append(F.col(f"{col}__{fn}").alias(f"{col}_{fn}"))
    return state.select(*exprs)
