"""Persisted EXACT-Jaccard prefix index — incremental exact near-dup at
corpus scale.

The index family's exactness matrix had one empty cell. The MinHash
index (:mod:`mini_etl_spark.functions.dedup_index`) answers
"batch vs everything ingested so far" APPROXIMATELY (signature
agreement); the fingerprint index answers it exactly but only for
IDENTICAL token sets. This module answers exact THRESHOLD similarity —
"drop every batch doc whose true shingle Jaccard with any indexed doc
is ≥ t" — without rescanning (or re-shingling) the historical corpus
and without the uncapped inverted index's Σ df² candidate blow-up.

The mechanism is prefix filtering (AllPairs — Bayardo, Ma & Srikant,
WWW 2007; see :func:`mini_etl_spark.functions.dedup.jaccard_pairs_exact`
for the in-frame form) with one observation doing the heavy lifting:
**the prefix lemma is correct under ANY fixed total order of the
element universe** — ordering by ascending document frequency is only
the efficiency heuristic that makes prefixes rare. So the index
FREEZES the order at build time (the build corpus' element frequencies,
ties by element hash), exactly as the IVF index freezes its centroids:

- ``jaccard_index_write`` — one pass over the corpus: per-doc distinct
  shingle postings ``(id, g, r, size)`` where ``r`` is the element's
  rank within the doc under the frozen order, plus the frozen
  frequency table ``freq/(g, f)``. The ``_JACCARD.json`` params marker
  (text_col/id_col/n — parameters are never arguments) is published
  LAST via tmp+rename, so a half-built directory is never probe-able.
- ``jaccard_index_dedup`` — shingle the NEW batch only, rank it under
  the frozen order (elements unseen at build time take frequency 0 =
  "rarest", deterministic tie by hash — the same rule all writers
  use, so the shared total order is never violated), then join batch
  prefixes against stored prefixes (the stored side is a FILTER
  ``r ≤ size − ⌈t·size⌉ + 1`` on the postings — any probe threshold
  works against one index), and verify candidates EXACTLY against the
  full stored postings. Historical text is never touched.
- ``jaccard_index_append`` — rank the accepted batch under the frozen
  order and append its postings. ONE component table → the append has
  no multi-write crash window at all; idempotence is a stored-id
  anti-join (re-running a completed append is a no-op).
- ``jaccard_index_filter`` — the ingestion-gate form (batch minus
  matched docs, optional exact in-batch dedup, optional
  append-survivors), mirroring ``minhash_index_filter``.

Exactness is UNCONDITIONAL: candidates are verified against full
postings, and the prefix lemma holds for the frozen order no matter
how the live distribution drifts. What degrades under drift is only
the PRUNING (yesterday's rare elements may be today's hot ones, making
prefixes less selective) — the append path measures the unseen-element
share per batch and warns when it exceeds ``retrain_warn``, the same
retrain signal ``ivf_index_append`` emits for centroid skew. Rebuild
on the maintenance cadence to re-freeze the order.

Scale notes (100 TB): postings are ``(id, 32-hex md5, int, int)`` —
~45 bytes per distinct shingle per doc. A probe shuffles the batch's
prefix postings against the stored prefix postings (an equi-join on
``g`` that AQE can re-plan) and the verification join is bounded by
Σ|batch doc| over surviving candidates. Nothing reads the corpus text.
Appends accrue one file per batch — fold them with
``maintenance.compact_minhash_index`` (the ``postings`` component
joins the same two-rename in-place swap; ``freq`` is frozen and never
grows).

The reference has no persisted similarity index of any kind (its
DeduplicateTransformer is chunk-local exact equality,
``/root/reference/mini_etl/core/transformers.py``) — this module is
extension surface, same as the MinHash/Bloom/IVF indexes.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_spark.functions.dedup import _shingled
from mini_etl_spark.statefile import _read_state, _write_state

__all__ = [
    "jaccard_index_write",
    "jaccard_index_append",
    "jaccard_index_dedup",
    "jaccard_index_filter",
]

_MARKER = "_JACCARD.json"


def _read_params(spark: SparkSession, path: str) -> dict:
    params = _read_state(spark, os.path.join(path, _MARKER))
    if not params:
        raise ValueError(
            f"jaccard index at {path!r} has no {_MARKER} params marker — "
            "either the path is not a jaccard index, or a build crashed "
            "before publishing it (the marker is written last, so an "
            "unmarked directory is never probe-able). Rebuild with "
            "jaccard_index_write."
        )
    return params


def _batch_elems(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(``__id``, ``__size``, ``__g``) — one row per DISTINCT md5-keyed
    token n-gram shingle per doc, with the doc's shingle-set size on
    every row. explode_outer + null-filter barrier per the house rule
    (a plain explode lets Catalyst re-inline the shingle chain per
    output row). Docs with < n tokens have no shingles and vanish —
    they cannot reach any Jaccard threshold > 0 against anything."""
    sh = _shingled(df, text_col, id_col, n).withColumn(
        "__size", F.size("__sh")
    )
    return (
        sh.select("__id", "__size", F.explode_outer("__sh").alias("__e"))
        .filter(F.col("__e").isNotNull())
        .select("__id", "__size", F.md5("__e").alias("__g"))
    )


def _ranked(elems: DataFrame, freq: DataFrame) -> DataFrame:
    """Rank each doc's elements under the (frozen) order
    (frequency, element hash) ascending — elements absent from ``freq``
    take frequency 0 ("rarest"), the deterministic rule every writer
    and prober shares so the total order is one order. Adds ``__f0``
    (the resolved frequency, kept so append can measure the unseen
    share) and ``__r``."""
    from pyspark.sql import Window

    return (
        elems.join(freq, "__g", "left")
        .withColumn("__f0", F.coalesce(F.col("__f"), F.lit(0)))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__id").orderBy("__f0", "__g")
            ),
        )
    )


def _prefix_keep(t_eff: float) -> Column:
    """rank ≤ size − ⌈t_eff·size⌉ + 1, the Jaccard probing prefix. The
    1e-9 ceil slack means a float product landing a hair above an exact
    integer can only LENGTHEN the prefix (admit candidates), never
    shorten it (lose pairs)."""
    need = F.ceil(F.lit(t_eff) * F.col("__size") - F.lit(1e-9))
    return F.col("__r") <= F.col("__size") - need + F.lit(1)


def jaccard_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> int:
    """Build the index from the current corpus (overwrites ``path``):
    frozen frequency table + ranked postings + params marker (published
    last). Returns the number of indexed documents (docs with ≥ 1
    shingle)."""
    spark = df.sparkSession
    elems = _batch_elems(df, text_col, id_col, n).persist()
    try:
        freq = elems.groupBy("__g").agg(F.count(F.lit(1)).alias("__f"))
        freq.select(
            F.col("__g").alias("g"), F.col("__f").alias("f")
        ).write.mode("overwrite").parquet(os.path.join(path, "freq"))
        frozen = spark.read.parquet(os.path.join(path, "freq")).select(
            F.col("g").alias("__g"), F.col("f").alias("__f")
        )
        post = _ranked(elems, frozen).select(
            F.col("__id").alias(id_col),
            F.col("__g").alias("g"),
            F.col("__r").alias("r"),
            F.col("__size").alias("size"),
        )
        post.write.mode("overwrite").parquet(os.path.join(path, "postings"))
        n_docs = (
            spark.read.parquet(os.path.join(path, "postings"))
            .select(id_col)
            .distinct()
            .count()
        )
        _write_state(
            spark,
            os.path.join(path, _MARKER),
            {
                "kind": "jaccard",
                "text_col": text_col,
                "id_col": id_col,
                "n": n,
                "built_docs": n_docs,
            },
        )
        return n_docs
    finally:
        elems.unpersist()


def _stored(spark: SparkSession, path: str, id_col: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "postings")).select(
        F.col(id_col).alias("__id"),
        F.col("g").alias("__g"),
        F.col("r").alias("__r"),
        F.col("size").alias("__size"),
    )


def jaccard_index_dedup(
    batch: DataFrame, path: str, threshold: float = 0.5
) -> DataFrame:
    """All (batch doc, indexed doc) pairs with EXACT shingle Jaccard ≥
    ``threshold``: batch prefixes (ranked under the frozen order) join
    stored prefixes (a rank filter on the postings — one index serves
    any threshold), length-compatibility pruning, then exact
    verification of the candidates against the FULL stored postings.
    Shingle/hash config comes from the index params — parameters are
    never arguments. Returns (batch_id, index_id, jaccard rounded to 4,
    threshold on the rounded value — the library-wide contract).
    Batch and index id spaces must be disjoint (the ingestion contract
    shared by every index in the family)."""
    spark = batch.sparkSession
    params = _read_params(spark, path)
    id_col = params["id_col"]
    t_eff = max(threshold - 5e-5, 0.0)
    frozen = spark.read.parquet(os.path.join(path, "freq")).select(
        F.col("g").alias("__g"), F.col("f").alias("__f")
    )
    b_elems = _batch_elems(
        batch, params["text_col"], id_col, params["n"]
    ).persist()
    b_pre = (
        _ranked(b_elems, frozen)
        .filter(_prefix_keep(t_eff))
        .select("__id", "__g", "__size", "__r")
    )
    stored = _stored(spark, path, id_col)
    s_pre = stored.filter(_prefix_keep(t_eff)).select(
        "__id", "__g", "__size", "__r"
    )
    b, s = b_pre.alias("b"), s_pre.alias("s")
    # PPJoin positional refinement (safe: a qualifying pair's FIRST
    # shared element in the frozen order always satisfies the bound —
    # see dedup._prefix_exact_pairs)
    alpha = F.ceil(
        F.lit(t_eff / (1.0 + t_eff))
        * (F.col("b.__size") + F.col("s.__size"))
        - F.lit(1e-9)
    )
    cand = (
        b.join(
            s,
            (F.col("b.__g") == F.col("s.__g"))
            & (F.col("b.__size") >= t_eff * F.col("s.__size") - 1e-9)
            & (F.col("s.__size") >= t_eff * F.col("b.__size") - 1e-9)
            & (
                F.lit(1)
                + F.least(
                    F.col("b.__size") - F.col("b.__r"),
                    F.col("s.__size") - F.col("s.__r"),
                )
                >= alpha
            ),
        )
        .select(
            F.col("b.__id").alias("batch_id"),
            F.col("s.__id").alias("index_id"),
        )
        .distinct()
    )
    # exact verification: restrict stored postings to candidate docs,
    # count shared elements per pair over FULL postings (both sides)
    cand_stored = stored.join(
        cand.select(F.col("index_id").alias("__id")), "__id", "left_semi"
    )
    shared = (
        cand.join(
            b_elems.select(F.col("__id").alias("batch_id"), "__g"),
            "batch_id",
        )
        .join(
            cand_stored.select(F.col("__id").alias("index_id"), "__g"),
            ["index_id", "__g"],
        )
        .groupBy("batch_id", "index_id")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sa = b_elems.select(
        F.col("__id").alias("batch_id"), F.col("__size").alias("__sa")
    ).distinct()
    sb = cand_stored.select(
        F.col("__id").alias("index_id"), F.col("__size").alias("__sb")
    ).distinct()
    return (
        shared.join(sa, "batch_id")
        .join(sb, "index_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared")
                / (
                    F.col("__sa") + F.col("__sb") - F.col("__shared")
                ).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "index_id", "jaccard")
    )


def jaccard_index_append(
    df: DataFrame, path: str, retrain_warn: float = 0.5
) -> int:
    """Append an accepted batch's postings, ranked under the FROZEN
    order. Idempotent (stored-id anti-join: re-running a completed
    append is a no-op) and crash-window-free — the index has ONE
    growing component, so there is no partial multi-table state to
    heal. Returns the number of appended documents.

    Emits a retrain warning when more than ``retrain_warn`` of the
    batch's postings are elements UNSEEN at build time: exactness is
    unaffected (unseen elements rank first under the shared
    frequency-0 rule), but prefixes built from a drifted order lose
    selectivity — rebuild to re-freeze, mirroring
    ``ivf_index_append``'s centroid-skew signal. Docs with < n tokens
    have no shingles: they are never indexed, never counted in the
    return, and are re-shingled (to nothing) on every re-submission —
    the same contract as the MinHash index."""
    spark = df.sparkSession
    params = _read_params(spark, path)
    id_col = params["id_col"]
    stored_ids = spark.read.parquet(os.path.join(path, "postings")).select(
        F.col(id_col).alias(id_col)
    )
    # the anti-join plan reads the directory the write below lands in —
    # checkpoint it so the write cannot re-list files mid-job
    fresh = df.join(stored_ids, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    frozen = spark.read.parquet(os.path.join(path, "freq")).select(
        F.col("g").alias("__g"), F.col("f").alias("__f")
    )
    ranked = _ranked(
        _batch_elems(fresh, params["text_col"], id_col, params["n"]), frozen
    ).persist()
    try:
        stats = ranked.agg(
            F.count(F.lit(1)).alias("__total"),
            F.sum((F.col("__f0") == 0).cast("long")).alias("__unseen"),
            F.countDistinct("__id").alias("__docs"),
        ).first()
        if not stats["__total"]:
            return 0
        unseen = (stats["__unseen"] or 0) / stats["__total"]
        if unseen > retrain_warn:
            warnings.warn(
                f"jaccard_index_append: {unseen:.0%} of the batch's "
                f"postings are elements unseen when the index order was "
                f"frozen (> retrain_warn={retrain_warn:.0%}). Results "
                "stay exact, but prefix pruning is degrading under the "
                "distribution shift — rebuild with jaccard_index_write "
                "to re-freeze the order.",
                stacklevel=2,
            )
        ranked.select(
            F.col("__id").alias(id_col),
            F.col("__g").alias("g"),
            F.col("__r").alias("r"),
            F.col("__size").alias("size"),
        ).write.mode("append").parquet(os.path.join(path, "postings"))
        return int(stats["__docs"])
    finally:
        ranked.unpersist()


def jaccard_index_filter(
    batch: DataFrame,
    path: str,
    threshold: float = 0.5,
    append_survivors: bool = False,
    in_batch: bool = True,
) -> DataFrame:
    """The ingestion-pipeline form: ``batch`` minus every doc whose
    EXACT shingle Jaccard with anything already indexed is ≥
    ``threshold``. ``in_batch=True`` (default) also drops near-dups
    WITHIN the batch — exact prefix-filtered pairs
    (:func:`mini_etl_spark.functions.dedup.jaccard_pairs_exact` with the
    index's shingle config) → connected-component min-id winners, so
    co-arriving duplicates are never both indexed.
    ``append_survivors=True`` immediately appends the kept docs
    (single-writer contract, idempotent under replay via the append's
    stored-id anti-join)."""
    from mini_etl_spark.functions.dedup import (
        drop_near_duplicates,
        jaccard_pairs_exact,
    )

    spark = batch.sparkSession
    params = _read_params(spark, path)
    id_col = params["id_col"]
    matches = jaccard_index_dedup(batch, path, threshold)
    dup_ids = matches.select(F.col("batch_id").alias(id_col)).distinct()
    kept = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    if in_batch:
        pairs = jaccard_pairs_exact(
            kept,
            text_col=params["text_col"],
            id_col=id_col,
            n=params["n"],
            threshold=threshold,
        )
        kept = drop_near_duplicates(kept, pairs, id_col=id_col)
    if append_survivors:
        # sever the plan from the index files before the append changes
        # them (cached plans re-read just-written paths — the survivors
        # would re-probe an index that already contains them)
        kept = kept.localCheckpoint(eager=True)
        jaccard_index_append(kept, path)
    return kept
