"""Dataset maintenance utilities for long-lived table layouts.

At 100 TB the operational killers are rarely the queries — they're layout
drift: thousands of tiny files from incremental appends (every scan pays
per-file open/listing cost, every executor core starves on 2 MB splits)
and unsorted data (no row-group skipping). These helpers rewrite layouts;
they are driver-orchestrated but all data movement is executor-side.

No reference parity: the reference (single-process pandas) has no file
layout to maintain — this is part of the scale extension.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import SparkSession

from mini_etl_spark.session import estimated_bytes
from mini_etl_spark.statefile import _state_io

logger = logging.getLogger(__name__)


def dataset_stats(spark: SparkSession, path: str) -> dict:
    """File-layout stats via the Hadoop FileSystem API (works for any
    scheme Spark supports — local, HDFS, s3a…): total bytes, data-file
    count, mean file size. Metadata-only; reads no data."""
    fs, jpath = _state_io(spark, path)
    files = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if not status.isFile() or name.startswith(("_", ".")):
            continue
        files.append(status.getLen())
    total = sum(files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "mean_file_bytes": total // len(files) if files else 0,
    }


def profile(df, columns: list[str] | None = None):
    """One-pass column profile — the ops-side data-quality snapshot:
    long-format (``column``, ``dtype``, ``row_count``, ``null_count``,
    ``distinct_count``, ``min_value``, ``max_value``), min/max cast to
    string so every column fits one output schema.

    ONE job for all columns, two plan branches (r12, guide §2.3): the
    per-column count/min/max are plain partial+final CODEGEN aggregates in
    one pass, and each exact ``distinct_count`` is its own two-level
    hash aggregate (groupBy column → count) over a single-column pruned
    scan, unioned into a 1-row-per-column frame and broadcast-joined back.
    The pre-r12 shape put the countDistincts in the same aggregate, which
    Catalyst plans as an Expand — the input restreamed once per distinct
    column and SORT-aggregated twice (strings force SortAggregate) — a
    ×(k+1) blowup of the full table at any scale; the union-of-distincts
    plan shuffles only each column's distinct values (measured 2.0 → 1.2 s
    at sf0.1, identical rows). For a quick look at a 100 TB table, profile
    a sample or swap in ``approx_count_distinct`` by passing the frame
    through ``operators.group_agg`` instead; this profiler favors
    exactness so the DuckDB oracle can replay it verbatim.

    Caveat (per-column distinct branches = k extra passes over the
    SOURCE): on a column-prunable columnar scan each branch reads one
    column, but over a non-prunable input (cached RDD-backed frame, CSV,
    very wide column list) the k scans can cost more than the old single
    Expand pass — persist the input first (or profile a sample) in that
    case. And because the branches re-execute the source independently, a
    NON-DETERMINISTIC source (e.g. a rand()-filtered frame) can yield
    mutually inconsistent row_count vs distinct_count; profile a
    materialized snapshot of such frames instead."""
    from functools import reduce

    from pyspark.sql import functions as F

    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile: unknown columns {missing}")
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            # aggregate on the NATIVE type (lexical string min/max would
            # order "10" < "9"), cast the result for the uniform schema
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    # exact distincts: one two-level hash aggregate per column (distinct
    # values shuffle, never the table), unioned — countDistinct semantics
    # (nulls excluded) via the pre-filter
    dparts = [
        df.select(F.col(c).alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .agg(F.count(F.lit(1)).alias("__d"))
        .select(F.lit(c).alias("__dcol"), "__d")
        for c in cols
    ]
    dcounts = reduce(lambda x, y: x.unionByName(y), dparts)
    per_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(dtypes[c]).alias("dtype"),
                    F.col("__n").alias("row_count"),
                    (F.col("__n") - F.col(f"__nn_{c}")).alias("null_count"),
                    F.col(f"__mn_{c}").alias("min_value"),
                    F.col(f"__mx_{c}").alias("max_value"),
                )
                for c in cols
            ]
        )
    )
    melted = row.select(per_col.alias("__p")).select("__p.*")
    return melted.join(
        F.broadcast(dcounts), melted["column"] == dcounts["__dcol"]
    ).select(
        "column",
        "dtype",
        "row_count",
        "null_count",
        F.col("__d").alias("distinct_count"),
        "min_value",
        "max_value",
    )


def profile_top_values(df, columns: list[str] | None = None, k: int = 5):
    """Most-frequent values per column: (``column``, ``value``,
    ``value_count``, ``rank``), ``rank`` 1..k by descending count with
    ties broken by value string — fully deterministic, so external
    engines replay it. ONE pass: columns melt to (column, value) rows via
    a single explode projection (no per-column jobs), then one count
    aggregate and one k-bounded window per column partition. NULLs count
    as a value (shown as the string 'NULL') — a profiler that hides the
    most frequent value being NULL is lying."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_top_values: unknown columns {missing}")
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.coalesce(F.col(c).cast("string"), F.lit("NULL")).alias(
                            "value"
                        ),
                    )
                    for c in cols
                ]
            )
        ).alias("__m")
    ).select("__m.*")
    counts = melted.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("value_count")
    )
    w = Window.partitionBy("column").orderBy(
        F.col("value_count").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("column", "value", "value_count", "rank")
    )


def histogram(df, column: str, bins: int = 20, lo: float | None = None,
              hi: float | None = None):
    """Equi-width histogram: (``bin``, ``lo``, ``hi``, ``bin_count``) with
    ``bins`` buckets over [lo, hi] (min/max from one tiny aggregate when
    not given; values at hi land in the last bucket, NULLs are dropped).
    One partial+final aggregate over the bucket index — the exchange
    carries at most ``bins`` rows per task. Bucket arithmetic matches
    ``zorder_value``'s width_bucket chain, so external engines replay the
    exact same bin assignment."""
    from pyspark.sql import functions as F

    if bins < 1:
        raise ValueError("histogram: bins must be >= 1")
    if lo is not None and hi is not None and lo > hi:
        # fail loudly up front — reversed bounds would otherwise surface
        # as an opaque width_bucket runtime error mid-job
        raise ValueError(f"histogram: lo must be <= hi, got lo={lo} hi={hi}")
    if lo is None or hi is None:
        stats = df.agg(
            F.min(F.col(column).cast("double")).alias("mn"),
            F.max(F.col(column).cast("double")).alias("mx"),
        ).first()
        lo = stats["mn"] if lo is None else lo
        hi = stats["mx"] if hi is None else hi
    if lo is None or hi is None or lo == hi:
        # empty/constant column: everything (if anything) in bucket 0
        return (
            df.filter(F.col(column).isNotNull())
            .agg(F.count(F.lit(1)).alias("bin_count"))
            .select(
                F.lit(0).alias("bin"),
                F.lit(lo).cast("double").alias("lo"),
                F.lit(hi).cast("double").alias("hi"),
                "bin_count",
            )
        )
    width = (float(hi) - float(lo)) / bins
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.lit(bins - 1),
            F.width_bucket(
                F.col(column).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(bins)
            )
            - 1,
        ),
    )
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("bin_count"))
        .select(
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(width)).alias("lo"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
            "bin_count",
        )
    )


def distribution_drift(
    df_a,
    df_b,
    column: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    epsilon: float = 1e-6,
):
    """Population Stability Index between two epochs of one numeric
    column — the "did yesterday's ingestion shift the distribution"
    monitor a recurring 100 TB pipeline runs before training on the new
    batch. Returns one row per bin: (``bin``, ``lo``, ``hi``,
    ``count_a``, ``count_b``, ``frac_a``, ``frac_b``, ``psi_contrib``);
    PSI = Σ psi_contrib (rule of thumb: < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted).

    Shared equi-width bins over [lo, hi] (min/max across BOTH epochs
    when not given — one tiny aggregate; the same width_bucket chain as
    :func:`histogram`/:func:`zorder_value`, so external engines replay
    the bin assignment bit-identically). Zero-count bins take
    ``epsilon`` in place of their fraction (the standard PSI guard —
    a bin emptying out IS drift and must contribute, not divide by
    zero). Plan shape: one partial+final count aggregate per epoch
    (exchange carries ≤ ``bins`` rows), a ``bins``-row spine join, and
    the two scalar totals broadcast — no global window, nothing
    corpus-sized on the driver. NULLs are dropped on both sides."""
    from pyspark.sql import functions as F

    if bins < 1:
        raise ValueError("distribution_drift: bins must be >= 1")
    if lo is not None and hi is not None and lo > hi:
        raise ValueError(
            f"distribution_drift: lo must be <= hi, got lo={lo} hi={hi}"
        )
    spark = df_a.sparkSession
    a_vals = df_a.select(F.col(column).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    b_vals = df_b.select(F.col(column).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    if lo is None or hi is None:
        stats = (
            a_vals.unionByName(b_vals)
            .agg(F.min("__v").alias("mn"), F.max("__v").alias("mx"))
            .first()
        )
        lo = stats["mn"] if lo is None else lo
        hi = stats["mx"] if hi is None else hi
    if lo is None or hi is None:
        raise ValueError(
            f"distribution_drift: column {column!r} has no non-null values "
            "in either epoch"
        )
    lo, hi = float(lo), float(hi)
    if lo == hi:
        bins = 1  # constant column: one shared bucket, PSI measures count mix
        bucket = F.lit(0)
        width = 0.0
    else:
        width = (hi - lo) / bins
        bucket = F.greatest(
            F.lit(0),
            F.least(
                F.lit(bins - 1),
                F.width_bucket(F.col("__v"), F.lit(lo), F.lit(hi), F.lit(bins))
                - 1,
            ),
        )

    def counts(vals, name):
        return vals.groupBy(bucket.alias("bin")).agg(
            F.count(F.lit(1)).alias(name)
        )

    spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        spine.join(counts(a_vals, "count_a"), "bin", "left")
        .join(counts(b_vals, "count_b"), "bin", "left")
        .select(
            "bin",
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("count_b", F.lit(0)).alias("count_b"),
        )
    )
    totals = a_vals.agg(F.count(F.lit(1)).alias("__na")).crossJoin(
        b_vals.agg(F.count(F.lit(1)).alias("__nb"))
    )
    frac_a = F.when(
        F.col("__na") > 0, F.col("count_a") / F.col("__na")
    ).otherwise(F.lit(0.0))
    frac_b = F.when(
        F.col("__nb") > 0, F.col("count_b") / F.col("__nb")
    ).otherwise(F.lit(0.0))
    pa = F.when(F.col("frac_a") <= 0, F.lit(epsilon)).otherwise(F.col("frac_a"))
    pb = F.when(F.col("frac_b") <= 0, F.lit(epsilon)).otherwise(F.col("frac_b"))
    return (
        joined.crossJoin(F.broadcast(totals))
        .withColumn("frac_a", frac_a)
        .withColumn("frac_b", frac_b)
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
            "count_a",
            "count_b",
            "frac_a",
            "frac_b",
            ((pa - pb) * F.log(pa / pb)).alias("psi_contrib"),
        )
    )


def category_drift(
    df_a,
    df_b,
    column: str,
    top_k: int = 20,
    epsilon: float = 1e-6,
    max_distinct: int | None = 100_000,
):
    """Population Stability Index between two epochs of one CATEGORICAL
    column — the value-mix sibling of :func:`distribution_drift`: real
    ingestion drifts on ``source``/``lang``/``domain`` at least as often
    as on numeric features. Returns one row per retained value:
    (``value``, ``count_a``, ``count_b``, ``frac_a``, ``frac_b``,
    ``psi_contrib``); PSI = Σ psi_contrib, same rule of thumb as the
    numeric monitor.

    The report stays BOUNDED regardless of column cardinality: the
    ``top_k`` values by combined count (ties to the lexically-smallest
    value — deterministic, replayable) are reported individually and
    everything else folds into one ``__other__`` row, so a high-cardinality
    column cannot blow up the report or the gate. Fractions are over the
    FULL epoch totals (other included); a value absent on one side takes
    ``epsilon`` in place of its fraction (the standard PSI guard — a
    vanished category IS drift, not a division error). NULLs are dropped
    on both sides, matching the numeric monitor.

    Plan shape: one count-distinct-style hash aggregate per epoch
    (exchange carries one row per distinct value — the monitor is meant
    for categorical columns, where that is bounded), a full-outer join of
    the two count tables, localCheckpointed so the top-k pick, the
    ``__other__`` fold, and the totals all reuse ONE scan of each epoch;
    the top-k pick is a TakeOrderedAndProject (no global window).

    ``max_distinct`` guards against corpus-cardinality misuse: pointed
    at a URL or doc-id column, the distinct-value join would materialize
    a corpus-sized table to executor storage via the localCheckpoint.
    The guard is a ``limit(max_distinct+1)`` on the joined count table
    itself — executor storage stays bounded at ``max_distinct+1`` rows
    no matter the true cardinality, and landing over the cap fails
    loudly (exact, and ZERO extra epoch scans — the r11 version paid a
    separate approx-count pass per call, which streaming categorical
    gates inherited per micro-batch). Use :func:`distribution_drift`
    over a derived numeric feature for such columns, or raise/None the
    limit deliberately. The report plan itself is unchanged for the
    bounded case apart from the limit.

    A REAL category value equal to the fold sentinel ``__other__``
    raises when a fold row would also be emitted (the report's contract
    is one row per reported value — a collision would silently merge or
    duplicate); rename the value upstream or raise ``top_k`` past the
    column's cardinality so no fold happens."""
    from pyspark.sql import functions as F

    if top_k < 1:
        raise ValueError("category_drift: top_k must be >= 1")
    counts = []
    for df, name in ((df_a, "count_a"), (df_b, "count_b")):
        proj = df.select(F.col(column).cast("string").alias("value")).filter(
            F.col("value").isNotNull()
        )
        counts.append(proj.groupBy("value").agg(F.count(F.lit(1)).alias(name)))
    joined = (
        counts[0]
        .join(counts[1], "value", "full_outer")
        .select(
            "value",
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("count_b", F.lit(0)).alias("count_b"),
        )
    )
    if max_distinct is not None:
        # cardinality tripwire WITHOUT the extra epoch scan the r11
        # version paid (ADVICE r11): instead of a pre-materialization
        # approx_count_distinct pass over both epochs, cap what the
        # localCheckpoint below may MATERIALIZE — the limit bounds
        # executor storage to max_distinct+1 count rows while the single
        # pass that builds the count tables runs, and landing exactly at
        # the cap+1 proves the column is over it, raising before any
        # report math. Streaming categorical gates thus pay one pass per
        # epoch per micro-batch, same as the unguarded path.
        joined = joined.limit(max_distinct + 1)
    joined = joined.localCheckpoint(eager=True)
    n_values = joined.count()  # cheap: counts checkpointed partitions
    if max_distinct is not None and n_values > max_distinct:
        raise ValueError(
            f"category_drift: column {column!r} has more than "
            f"max_distinct={max_distinct} distinct values — this monitor "
            "is for genuinely categorical columns; a corpus-"
            "cardinality column (URL, doc id, text) would "
            "materialize a corpus-sized count table to executor "
            "storage. Monitor a bounded derived feature (e.g. "
            "distribution_drift over a length/hash), or pass a "
            "higher max_distinct / max_distinct=None deliberately."
        )
    if n_values == 0:
        raise ValueError(
            f"category_drift: column {column!r} has no non-null values "
            "in either epoch"
        )
    if n_values > top_k and not joined.filter(
        F.col("value") == F.lit("__other__")
    ).isEmpty():
        raise ValueError(
            f"category_drift: column {column!r} contains a REAL value "
            "'__other__', which collides with the fold sentinel while "
            f"the report is folding (distinct values {n_values} > "
            f"top_k {top_k}) — the report would carry two rows for one "
            "value (or silently merge them). Rename the value upstream "
            "or raise top_k above the column's cardinality."
        )
    top = joined.orderBy(
        (F.col("count_a") + F.col("count_b")).desc(), F.col("value").asc()
    ).limit(top_k)
    other = (
        joined.join(top.select("value"), "value", "left_anti")
        .agg(
            F.sum("count_a").alias("count_a"),
            F.sum("count_b").alias("count_b"),
        )
        .filter((F.col("count_a") + F.col("count_b")) > 0)
        .select(
            F.lit("__other__").alias("value"), "count_a", "count_b"
        )
    )
    report = top.unionByName(other)
    totals = joined.agg(
        F.sum("count_a").alias("__na"), F.sum("count_b").alias("__nb")
    )
    frac_a = F.when(
        F.col("__na") > 0, F.col("count_a") / F.col("__na")
    ).otherwise(F.lit(0.0))
    frac_b = F.when(
        F.col("__nb") > 0, F.col("count_b") / F.col("__nb")
    ).otherwise(F.lit(0.0))
    pa = F.when(F.col("frac_a") <= 0, F.lit(epsilon)).otherwise(F.col("frac_a"))
    pb = F.when(F.col("frac_b") <= 0, F.lit(epsilon)).otherwise(F.col("frac_b"))
    return (
        report.crossJoin(F.broadcast(totals))
        .withColumn("frac_a", frac_a)
        .withColumn("frac_b", frac_b)
        .select(
            "value",
            "count_a",
            "count_b",
            "frac_a",
            "frac_b",
            ((pa - pb) * F.log(pa / pb)).alias("psi_contrib"),
        )
    )


def _psi_gate(base, batch, column: str, max_psi: float, who: str,
              baseline: str, mode: str = "numeric", bins: int = 10,
              lo: float | None = None, hi: float | None = None,
              top_k: int = 20, max_distinct: int | None = 100_000):
    """Gate ``batch`` on its PSI against the ``base`` epoch (read from
    ``baseline``): the collected drift report's ``(rows, schema)`` when
    PSI <= ``max_psi``, else a ValueError prefixed ``who``. The one gate
    behind the ``drift`` config node and ``stream_drift_gate``.

    A numeric bin range not pinned by ``lo``/``hi`` is a function of the
    BASELINE alone, never of the batch: batch outliers clamp into the
    edge bins. A range over both epochs would let one far outlier row
    stretch it until a shifted batch falls into the baseline's bins and
    passes. A zero-width derived range (a constant baseline) is refused:
    one bin cannot show a shift. The report has at most ``bins`` /
    ``top_k + 1`` rows and is collected once; nothing is cached."""
    from pyspark.sql import functions as F

    if mode == "categorical":
        report = category_drift(base, batch, column, top_k=top_k,
                                max_distinct=max_distinct)
    else:
        if lo is None or hi is None:
            span = (
                base.select(F.col(column).cast("double").alias("__v"))
                .filter(F.col("__v").isNotNull())
                .agg(F.min("__v").alias("mn"), F.max("__v").alias("mx"))
                .first()
            )
            if span["mn"] is None:
                raise ValueError(
                    f"{who}: baseline {baseline!r} has no non-null values "
                    f"in column {column!r} — nothing to derive the bin "
                    "range from; pin lo/hi or fix the baseline."
                )
            lo = span["mn"] if lo is None else lo
            hi = span["mx"] if hi is None else hi
            if lo >= hi:
                raise ValueError(
                    f"{who}: derived bin range for column {column!r} is "
                    f"zero-width [{lo}, {hi}] — the baseline {baseline!r} "
                    "is constant in that column, so a PSI histogram cannot "
                    "see a shift. Pin lo/hi to the design range (any value "
                    "outside it will then clamp into an edge bin and "
                    "register as drift)."
                )
        report = distribution_drift(base, batch, column, bins=bins, lo=lo,
                                    hi=hi)
    rows = report.collect()
    psi = sum(r["psi_contrib"] or 0.0 for r in rows)
    if psi > max_psi:
        raise ValueError(
            f"{who}: PSI {psi:.4f} of column {column!r} vs baseline "
            f"{baseline!r} exceeds max_psi {max_psi} — the distribution "
            "has shifted; refusing to publish it (nothing written; fix or "
            "refresh the baseline and rerun)"
        )
    logger.info("%s: column %r PSI %.4f <= max_psi %s vs %r",
                who, column, psi, max_psi, baseline)
    return rows, report.schema


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet dataset into ~``target_file_mb`` files.

    Sizing comes from the file listing (metadata-only), the rewrite is one
    distributed job: ``repartition(n)`` (or range-repartition when
    ``sort_by`` is given, which also restores row-group skipping on those
    columns). Writes to ``out_path`` — swapping it over the source is the
    caller's (atomicity-owning) move. Returns before/after stats."""
    before = dataset_stats(spark, path)
    n = max(1, math.ceil(before["total_bytes"] / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_by:
        df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n)
    df.write.mode("overwrite").parquet(out_path)
    after = dataset_stats(spark, out_path)
    return {"before": before, "after": after, "target_files": n}


def compact_dataset_inplace(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite ONE parquet dataset directory into ~``target_file_mb``
    files IN PLACE, preserving single-level hive partitioning when
    ``partition_by`` is given. The swap is two renames with a recovery
    rule instead of a bare overwrite (which deletes the only copy before
    the rewrite is durable):

    1. rewrite into ``<path>.compact-tmp``;
    2. rename ``<path>`` → ``<path>.old``;
    3. rename the tmp into place;
    4. delete ``<path>.old``.

    A crash before (2) leaves the live dataset untouched (stray tmp is
    cleaned on the next run); a crash between (2) and (3) leaves only
    ``.old``, which the NEXT call (or any caller) restores by renaming
    it back — that recovery runs automatically at the top of this
    function. A crash between (3) and (4) leaves a stale ``.old`` that
    the next run deletes. WRITERS MUST BE QUIESCED for the duration
    (the same serialize-appends contract the incremental index already
    documents); an in-flight reader that listed files before the swap
    may hit FileNotFound and should re-read — the caveat every in-place
    OPTIMIZE without a transactional table format carries.

    Returns before/after :func:`dataset_stats`."""
    fs, hpath = _state_io(spark, path)
    tmp = _state_io(spark, path + ".compact-tmp")[1]
    old = _state_io(spark, path + ".old")[1]
    # recovery: a crash between the two swap renames left only .old
    if not fs.exists(hpath) and fs.exists(old):
        if not fs.rename(old, hpath):
            raise IOError(f"could not restore {path!r} from its .old backup")
    fs.delete(tmp, True)  # stray tmp from a pre-swap crash
    fs.delete(old, True)  # stale backup from a post-swap crash
    before = dataset_stats(spark, path)
    n = max(1, math.ceil(before["total_bytes"] / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    writer = (
        df.repartition(n, *partition_by) if partition_by else df.repartition(n)
    ).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path + ".compact-tmp")
    if not fs.rename(hpath, old):
        raise IOError(f"could not stage {path!r} for the compaction swap")
    if not fs.rename(tmp, hpath):
        # put the original back rather than leaving the dataset missing
        fs.rename(old, hpath)
        raise IOError(f"could not publish compacted {path!r}")
    fs.delete(old, True)
    after = dataset_stats(spark, path)
    return {"before": before, "after": after, "target_files": n}


def compact_minhash_index(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> dict:
    """Compact an incremental dedup index
    (:mod:`mini_etl_spark.functions.dedup_index` or the exact-Jaccard
    :mod:`mini_etl_spark.functions.jaccard_index`) in place: every
    per-batch ``mode("append")`` from the ingestion gate
    (``minhash_index_filter(append_survivors=True)``,
    ``fingerprint_index_filter``, ``jaccard_index_filter``, or the
    streaming ``stream_dedup_against_index``) adds one small file per
    growing component per batch — at a real trigger cadence the index
    accrues thousands
    of tiny files and every probe pays the per-file open cost. This
    folds each component (``signatures``, the band-partitioned
    ``bands`` postings — hive layout preserved so probes keep pruning
    by band — and the exact-gate ``fingerprints``) into
    ~``target_file_mb`` files via :func:`compact_dataset_inplace`.

    Run it between batches on the index's maintenance cadence — the
    index already requires appends to be serialized, and this operation
    joins that schedule as just another (write) turn. Probe results are
    unchanged (pytest-gated: identical survivors before/after).
    Returns per-component before/after stats."""
    import os

    fs, _ = _state_io(spark, path)
    out = {}
    # "postings" is the jaccard index's one growing component (its
    # "freq" table is frozen at build time and never appended to)
    for comp, part_by in (
        ("signatures", None),
        ("bands", ["band"]),
        ("fingerprints", None),
        ("postings", None),
    ):
        cdir = os.path.join(path, comp)
        if not any(fs.exists(_state_io(spark, p)[1]) for p in (cdir, cdir + ".old")):
            continue
        out[comp] = compact_dataset_inplace(
            spark, cdir, target_file_mb, partition_by=part_by
        )
    if not out:
        raise ValueError(
            f"compact_minhash_index: {path!r} holds no index components "
            "(signatures/bands/fingerprints/postings)"
        )
    return out


def zorder_value(df, columns: list[str], bits: int = 16):
    """Z-order (Morton) key over 2+ numeric columns: each column is
    bucketed into ``2^bits`` min-max buckets (bounds from ONE tiny
    aggregate job at expression-build time), then bucket bits are
    interleaved into a single long. Rows close in z-value are close in
    EVERY clustered column, so range-writing by z-value gives
    multi-column file/row-group skipping — the effect of Delta/Iceberg
    OPTIMIZE ZORDER, from plain Spark expressions.

    Returns the z-value Column (width_bucket + a fixed shift/mask/or
    unroll — pure codegen, no UDF, no shuffle). Nulls and values outside
    the sampled min/max clamp to the edge buckets."""
    from pyspark.sql import functions as F

    if len(columns) < 2:
        raise ValueError("zorder_value: need ≥ 2 columns (use sort_by for 1)")
    if bits * len(columns) > 62:
        raise ValueError("zorder_value: bits * len(columns) must be ≤ 62")
    n_buckets = 1 << bits
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__mn_{c}") for c in columns],
        *[F.max(c).cast("double").alias(f"__mx_{c}") for c in columns],
    ).first()
    ranks = []
    for c in columns:
        mn, mx = stats[f"__mn_{c}"], stats[f"__mx_{c}"]
        if mn is None or mx is None or mn == mx:
            ranks.append(F.lit(0).cast("long"))
            continue
        bucket = F.width_bucket(
            F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n_buckets)
        )
        # width_bucket: 0 below min, n+1 above max, else 1..n → clamp to 0..n-1
        ranks.append(
            F.greatest(
                F.lit(0),
                F.least(F.lit(n_buckets - 1), F.coalesce(bucket, F.lit(1)) - 1),
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, rank in enumerate(ranks):
            pos = bit * len(ranks) + j
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(rank, bit).bitwiseAND(F.lit(1)), pos)
            )
    return z


def zorder_write(
    spark: SparkSession,
    df,
    out_path: str,
    columns: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet clustered by the z-order of ``columns``:
    range-repartition + sort on the interleaved key, so every file covers
    a compact hyper-rectangle of the clustered columns and min/max stats
    prune files for predicates on ANY of them."""
    z = zorder_value(df, columns, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


# Exact `percentile` is a TypedImperativeAggregate that merges a
# value→count map of the whole group on ONE reduce task — fine at oracle
# scale, an OOM hazard when a single group's distinct values run to the
# billions. The guard reads the optimizer's size ESTIMATE for the input
# plan (driver-side statistics only — no job, no scan, so it costs the
# timed query paths nothing) and falls back to `percentile_approx` with a
# loud warning above the limit. An unknown size (a leaf without
# statistics) is no evidence of a large input: the exact path stays. The
# estimate is file-size-derived for scans and therefore conservative after
# selective filters: the fallback can only fire EARLY, never late. Declared
# oracle queries run orders of magnitude below the default, so their exact
# results are untouched.
_EXACT_PERCENTILE_LIMIT_BYTES = 8 * 1024**3


def _exact_percentile_guarded(df, exact: bool, op_name: str) -> bool:
    """Resolve the effective `exact` flag under the scale guard above.
    Returns False (approx) when exact was requested but the input's
    estimated size exceeds ``_EXACT_PERCENTILE_LIMIT_BYTES`` (override via
    env ``MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES``; <= 0 disables)."""
    if not exact:
        return False
    import os
    import warnings

    limit = int(
        os.environ.get(
            "MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES",
            _EXACT_PERCENTILE_LIMIT_BYTES,
        )
    )
    if limit <= 0:
        return True
    est = estimated_bytes(df)
    if est is not None and est > limit:
        warnings.warn(
            f"{op_name}: exact percentile requested but the input's "
            f"estimated size ({est} bytes) exceeds the single-task "
            f"value-map guard ({limit} bytes) — falling back to "
            "percentile_approx (mergeable sketch, same plan shape; "
            "boundary-adjacent rows may flip). Pass exact=False to "
            "silence, or raise MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES "
            "if one task really can hold the group's value multiset.",
            stacklevel=3,
        )
        return False
    return True


def robust_outliers(
    df,
    value_col: str,
    group_col: str | None = None,
    k: float = 3.0,
    scale: int = 100,
    mode: str = "outliers",
    exact: bool = True,
):
    """Median/MAD outlier detection — the robust (breakdown-point-0.5)
    alternative to z-scores, whose mean/stddev are themselves dragged by
    the outliers they are supposed to find. A row is an outlier when
    ``|x − median| > k · MAD`` within its group (``group_col=None`` =
    one global group).

    Determinism contract: values are first fixed to integers at
    ``scale`` (``floor(x·scale + 0.5)`` half-up — exact in float64), so
    every median/MAD interpolation lands on ``.0``/``.5`` — exactly
    representable doubles that any engine reproduces bit-for-bit, which
    makes the boundary comparison (and therefore the row set) stable
    across engines. This is the same integer-cents move the revenue
    oracles use.

    Plan: two grouped percentile aggregates (median of values, then
    median of absolute deviations) joined back by group — two shuffles
    on the group key, no window over the full table. ``exact=True``
    (default) uses exact ``percentile`` — the oracle-matched baseline,
    which materializes each group's value multiset in the aggregate.
    At 100 TB pass ``exact=False``: ``percentile_approx`` (mergeable
    KLL-style sketch, constant memory per group) with identical plan
    shape; boundary-adjacent rows may flip, bulk/spike verdicts do not.
    ``exact=True`` is additionally guarded: when the input's estimated
    size exceeds ``MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES`` (default
    8 GiB) the operator warns and uses the approx form — the exact
    aggregate merges each group's value multiset on one task and would
    OOM it first (see ``_exact_percentile_guarded``).

    ``mode="outliers"`` (default) returns only the flagged rows (plus
    ``__v`` fixed value, ``group_median``, ``group_mad``);
    ``mode="flag"`` returns EVERY input row with an ``is_outlier``
    boolean instead — the one-pass form for pipelines that keep or drop
    by filtering (no second scan, no anti-join).
    """
    from pyspark.sql import functions as F

    if mode not in ("outliers", "flag"):
        raise ValueError(f"mode must be 'outliers' or 'flag', got {mode!r}")
    g = [group_col] if group_col else []
    fixed = df.withColumn(
        "__v",
        F.floor(F.col(value_col).cast("double") * F.lit(float(scale)) + F.lit(0.5))
        .cast("double"),
    )
    pct = (
        "percentile"
        if _exact_percentile_guarded(df, exact, "robust_outliers")
        else "percentile_approx"
    )
    # localCheckpoint the (tiny, one-row-per-group) median frame: it is
    # referenced by BOTH broadcast joins below, and without materialization
    # each broadcast build re-executes the whole scan + exact-percentile
    # subtree (the med aggregate ran twice and the base table scanned 4x —
    # guide §2.4). Checkpoint, not persist(): checkpoint blocks are freed
    # by the ContextCleaner when the frame is GC'd, so repeated calls in a
    # long session do not pile cached frames up until clearCache (the
    # repo-wide state-frame discipline; the r12 persist() leaked one cache
    # entry per call).
    med = fixed.groupBy(*g).agg(
        F.expr(f"{pct}(__v, 0.5)").alias("group_median")
    ).localCheckpoint(eager=True)
    # Null-safe stats joins: groupBy keeps a NULL-key group, so rows whose
    # group key is NULL must match that stats row (a plain inner join on
    # the key name drops them, breaking flag mode's every-row contract).
    if g:
        j1 = fixed.join(
            F.broadcast(med.withColumnRenamed(group_col, "__g1")),
            F.col(group_col).eqNullSafe(F.col("__g1")),
        ).drop("__g1")
    else:
        j1 = fixed.crossJoin(F.broadcast(med))
    mad = j1.groupBy(*g).agg(
        F.expr(f"{pct}(abs(__v - group_median), 0.5)").alias("group_mad")
    )
    if g:
        j2 = j1.join(
            F.broadcast(mad.withColumnRenamed(group_col, "__g2")),
            F.col(group_col).eqNullSafe(F.col("__g2")),
        ).drop("__g2")
    else:
        j2 = j1.crossJoin(F.broadcast(mad))
    is_out = (
        F.abs(F.col("__v") - F.col("group_median"))
        > F.lit(float(k)) * F.col("group_mad")
    )
    if mode == "flag":
        # NULL measurement (or NULL group stats) is NOT an outlier —
        # without the coalesce, filter(~is_outlier) in drop pipelines
        # would silently discard every NULL-valued row (NULL predicate)
        return j2.withColumn("is_outlier", F.coalesce(is_out, F.lit(False)))
    return j2.filter(is_out)


BENFORD_EXPECTED = {
    d: round(__import__("math").log10(1.0 + 1.0 / d), 4) for d in range(1, 10)
}


def benford_audit(df, column: str, scale: int = 100):
    """First-digit (Benford) distribution audit — the classic
    fabricated-numbers / unit-mixing smell test for a numeric column:
    naturally-occurring multiplicative quantities lead with digit d at
    frequency log10(1 + 1/d) (~30% ones, ~4.6% nines); hand-typed or
    re-scaled data does not.

    Values fix to integers at ``scale`` first (|floor(x·scale + 0.5)|),
    so the leading digit comes from exact integer DECIMAL strings —
    never from engine-specific float formatting. Zero/NULL values are
    excluded (no leading digit). Returns one row per observed digit:
    (``digit``, ``n``, ``share`` rounded 4, ``expected`` Benford share)
    — chi-square or eyeball downstream. One hash aggregate plus a 1-row
    broadcast total; share = n/total computed in one fixed shape."""
    from pyspark.sql import functions as F

    fixed = df.select(
        F.abs(
            F.floor(F.col(column).cast("double") * F.lit(float(scale)) + F.lit(0.5))
        ).cast("long").alias("__v")
    ).filter(F.col("__v") > 0)
    digits = fixed.select(
        F.substring(F.col("__v").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("__t"))
    expected = F.create_map(
        *[F.lit(x) for d, e in sorted(BENFORD_EXPECTED.items()) for x in (d, e)]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("__t"), 4).alias("share"),
            F.element_at(expected, F.col("digit")).alias("expected"),
        )
    )


def dataset_card(df, name: str = "dataset", top_k: int = 5) -> str:
    """One-call data card: a markdown report combining row count, the
    per-column :func:`profile` (nulls/distincts/min-max) and
    :func:`profile_top_values` — the release-notes artifact every
    published training set ships with. Driver-side STRING assembly over
    the two existing aggregate passes (nothing new scans the data);
    write it next to the shards with the manifest."""
    rows = profile(df).collect()
    tops = profile_top_values(df, k=top_k).collect()
    n_rows = max((r["row_count"] for r in rows), default=0)
    by_col: dict = {}
    for r in sorted(tops, key=lambda r: (r["column"], r["rank"])):
        by_col.setdefault(r["column"], []).append(r)
    lines = [
        f"# Data card: {name}",
        "",
        f"- rows: {n_rows}",
        f"- columns: {len(rows)}",
        "",
        "## Columns",
        "",
        "| column | type | nulls | distinct | min | max |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['column']} | {r['dtype']} | {r['null_count']} "
            f"| {r['distinct_count']} | {r['min_value']} | {r['max_value']} |"
        )
    lines += ["", "## Top values", ""]
    for col, vals in by_col.items():
        pretty = ", ".join(
            f"{v['value']!r}×{v['value_count']}" for v in vals
        )
        lines.append(f"- **{col}**: {pretty}")
    return "\n".join(lines) + "\n"


def quantile_buckets(
    df,
    column: str,
    buckets: int = 10,
    scale: int = 100,
    out_col: str = "qbucket",
    exact: bool = True,
):
    """Equal-FREQUENCY bucketing (deciles/percentile bands) — the
    distributed-safe replacement for a global ``ntile`` window, which
    would funnel the whole table through one partition: exact interior
    quantile boundaries come from ONE tiny aggregate (``buckets − 1``
    values collected to the driver, like every scalar-stats broadcast
    here), and assignment is a pure codegen expression counting
    boundaries below each value — no global sort, no window, no second
    shuffle.

    Values fix to integers at ``scale`` first, so every percentile
    interpolation lands on exactly-representable .0/.25/.5/.75 doubles
    and the bucket of a boundary-adjacent row is bit-stable across
    engines (same move as :func:`robust_outliers`). Rows with value ≤
    boundary[i] (first such i) get bucket i; ties at a boundary all land
    LOW (≤ semantics), so heavily-tied columns yield unequal buckets —
    honest equal-frequency behavior, not silent row splitting. NULLs get
    bucket NULL. Returns the input plus ``out_col`` (int).

    ``exact=True`` (default) is the oracle-matched exact ``percentile``
    — it materializes the column's value multiset in one aggregate. At
    100 TB pass ``exact=False`` for ``percentile_approx`` (mergeable
    sketch, constant memory): same plan shape and bucket invariants
    (``buckets − 1`` monotone boundaries), boundary-adjacent rows may
    shift one bucket. ``exact=True`` is additionally guarded: when the
    input's estimated size exceeds
    ``MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES`` (default 8 GiB) the
    operator warns and uses the approx form rather than merge the whole
    column's value multiset on one task (see
    ``_exact_percentile_guarded``).
    """
    from pyspark.sql import functions as F

    if buckets < 2:
        raise ValueError(f"quantile_buckets: buckets must be >= 2, got {buckets}")
    fixed = F.floor(
        F.col(column).cast("double") * F.lit(float(scale)) + F.lit(0.5)
    ).cast("double")
    fracs = [i / buckets for i in range(1, buckets)]
    pct = (
        "percentile"
        if _exact_percentile_guarded(df, exact, "quantile_buckets")
        else "percentile_approx"
    )
    row = df.agg(
        F.expr(
            f"{pct}(floor(cast({column} as double) * {float(scale)!r} + 0.5), "
            f"array({', '.join(repr(f) for f in fracs)}))"
        ).alias("__b")
    ).first()
    bounds = list(row["__b"] or [])
    if not bounds:
        return df.withColumn(
            out_col,
            F.when(F.col(column).isNotNull(), F.lit(0)).otherwise(F.lit(None)),
        )
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    n_below = F.aggregate(
        barr,
        F.lit(0),
        lambda acc, b: acc + F.when(fixed > b, F.lit(1)).otherwise(F.lit(0)),
    )
    return df.withColumn(
        out_col,
        F.when(F.col(column).isNotNull(), n_below.cast("int")).otherwise(
            F.lit(None).cast("int")
        ),
    )


def group_linear_trend(
    df,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
    scale: int = 100,
    wide: bool = False,
):
    """Per-group ordinary-least-squares trend line (closed form) — the
    "is this metric drifting per segment" primitive, as ONE hash
    aggregate of five sums per group (n, Σx, Σy, Σxy, Σx²); no window,
    no ML library, map-side combined like any sum.

    Determinism contract (the round's recurring lesson applied to
    regression): x and y fix to integers at ``scale`` first, the five
    sums stay EXACT integers, and the slope/intercept emit as
    ``*_e6`` integer-scaled longs computed through one fixed-shape
    float chain — ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²)``,
    ``intercept = (Σy − slope·Σx) / n`` — so any engine replays the
    output bit-for-bit. Slope/intercept are in the FIXED units (value ×
    ``scale``); divide by ``scale`` for originals. Groups with zero
    x-variance emit NULL slope/intercept (vertical line). At 100 TB
    pass ``wide=True`` to route the sums (and the n·Σ products) through
    DECIMAL(38,0) when n·Σxy can exceed a long — same shape, same
    results wherever long doesn't overflow.

    Returns one row per group: group cols, ``n`` (long),
    ``slope_e6``, ``intercept_e6`` (long, NULL when degenerate).
    """
    from pyspark.sql import functions as F

    g = group_cols or []
    # wide=True routes the five sums (and the n·Σ products) through
    # DECIMAL(38,0) — the documented 100 TB path for when n·Σxy can
    # exceed a long. Same fixed integer values, same float chain after
    # the final cast, so results are bit-identical wherever long doesn't
    # overflow (pytest-pinned).
    st = "decimal(38,0)" if wide else "long"
    xf = F.floor(F.col(x_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(st)
    yf = F.floor(F.col(y_col).cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(st)
    fixed = df.select(*g, xf.alias("__x"), yf.alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    agg = fixed.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    nn = F.col("n").cast(st)
    num = (nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    den = (nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    slope = num / den
    intercept = (F.col("__sy").cast("double") - slope * F.col("__sx").cast("double")) / F.col("n").cast("double")
    return agg.select(
        *g,
        F.col("n").cast("long").alias("n"),
        F.when(den != 0.0, F.round(slope * F.lit(1e6)).cast("long")).alias("slope_e6"),
        F.when(den != 0.0, F.round(intercept * F.lit(1e6)).cast("long")).alias("intercept_e6"),
    )
