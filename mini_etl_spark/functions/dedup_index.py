"""Persisted MinHash signature index — incremental near-dup at corpus scale.

``dedup.minhash_lsh_pairs`` answers "which pairs inside THIS frame are
near-duplicates" — one self-join over the whole corpus. A production
training-data pipeline has the other shape: the corpus is already deduped
and *new batches arrive continuously*; each batch must be checked against
everything ingested so far WITHOUT re-scanning (or even re-hashing) the
historical text. The standard answer is a persisted signature index
(build-once serve-many, the same pattern as ``similarity.ivf_index_write``
for vectors):

- ``minhash_index_write``  — one pass over the corpus text → parquet index:
  per-doc MinHash signatures (wide ``h0..h{k-1}`` columns, so band probes
  column-prune) + banded LSH bucket postings (hive-partitioned by ``band``).
- ``minhash_index_dedup``  — signatures for the NEW batch only, an
  equi-join against the bucket postings, and signature-agreement scoring
  of the candidates. Historical text is never touched; the index rows
  read are only the buckets the batch actually collides with.
- ``minhash_index_append`` — after accepting the batch, append its
  signatures/postings so the next batch sees it. Appending parquet files
  is atomic-enough for a single-writer ingest loop; concurrent writers
  should serialize appends (same contract as any parquet dataset).

Retention: every append adds one small file per component per batch —
at a real trigger cadence (``streaming.stream_dedup_against_index``)
the index accrues thousands of tiny files and every probe pays the
per-file open cost. Fold them on a maintenance cadence with
:func:`mini_etl_spark.maintenance.compact_minhash_index` (in-place,
crash-recovering two-rename swap, band partitioning preserved, probe
results unchanged) — it joins the same serialized write schedule as the
appends.

Scale notes (100 TB): the index is O(docs × num_hashes × 8 bytes) — ~0.5 KB
per document at the default 64 hashes, i.e. ~3 orders of magnitude smaller
than the text it summarizes. The batch-vs-index join shuffles only
(band, bucket, id) postings; est-Jaccard scoring joins the (tiny) candidate
pair list back to the two signature tables. Nothing in the flow depends on
corpus size except the bucket-postings join, which is an equi-join AQE can
re-plan. Hot buckets (boilerplate shingle sets) are capped with
``max_bucket_freq`` exactly like ``jaccard_pairs``' hot-shingle cap.

``hash_fn="md5"`` builds engine-portable signatures (two 32-bit halves of
md5, the ``dedup._element_hash64`` scheme) so an external engine — and the
DuckDB differential oracle — can replay the index bit-for-bit; the default
``xxhash64`` is the fast JVM-intrinsic path. Estimated Jaccard is the
signature agreement fraction — the textbook unbiased MinHash estimator —
so scoring needs no shingle sets at all.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_etl_spark.functions.dedup import _element_hash64, _shingled
from mini_etl_spark.statefile import _read_state, _session, _write_state

__all__ = [
    "minhash_index_write",
    "minhash_index_append",
    "minhash_index_dedup",
    "minhash_index_filter",
    "minhash_signatures",
    "fingerprint_index_write",
    "fingerprint_index_filter",
]

_META = "_minhash_meta.json"


def _seeded_hash(col: Column, i: int, hash_fn: str) -> Column:
    """Per-permutation element hash: xxhash64's native seed argument, or a
    seed-prefixed md5 (portable — any engine can replay ``md5(i || ':' || g)``)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col, F.lit(i))
    return _element_hash64(F.concat(F.lit(f"{i}:"), col), hash_fn)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signatures: explode shingles once, then ONE
    vectorized HashAggregate with ``num_hashes`` min() columns (the measured
    ~5× winner over per-hash ``aggregate()`` HOFs — see ``minhash_lsh_pairs``).
    Documents with no shingles (< n tokens) produce no row: they cannot
    near-duplicate anything under shingle Jaccard.

    Hash chain must stay identical to ``dedup.minhash_lsh_pairs``'s inline
    signature stage (xxhash64 mode) — the cross-module candidate parity is
    pinned by tests/test_dedup_index.py::test_index_candidates_match_inframe_lsh."""
    docs = _shingled(df, text_col, id_col, n)
    # explode_outer + post-generate null filter (the repo's house rule for
    # exploding computed arrays): plain explode lets Catalyst infer
    # size(__sh) > 0 and sink it below the projection, re-inlining the full
    # shingle/tokenize chain into every element — measured 8.1 s → 0.9 s
    # for 500-doc batch signatures at sf0.1.
    exploded = docs.select("__id", F.explode_outer("__sh").alias("__g")).filter(
        F.col("__g").isNotNull()
    )
    return exploded.groupBy("__id").agg(
        *[
            F.min(_seeded_hash(F.col("__g"), i, hash_fn)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def _band_postings(
    sig: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(id, band, bucket) postings. Bucket key is the band-slice digest:
    xxhash64 of the joined slice in fast mode (8-byte shuffle keys), the
    raw joined string in md5 mode (portable; a few dozen bytes)."""
    rows_per_band = num_hashes // bands
    def _slice(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            *[
                F.col(f"h{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        return F.xxhash64(joined).cast("string") if hash_fn == "xxhash64" else joined

    return sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _slice(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select("__id", "__band.band", "__band.bucket")


def _write_parts(
    sig: DataFrame, path: str, id_col: str, meta: dict, mode: str
) -> None:
    num_hashes, bands, hash_fn = meta["num_hashes"], meta["bands"], meta["hash_fn"]
    # persist: signatures are consumed by both the signature table write and
    # the posting write — without it the shingle scan runs twice.
    sig = sig.persist()
    try:
        sig.withColumnRenamed("__id", id_col).write.mode(mode).parquet(
            os.path.join(path, "signatures")
        )
        _band_postings(sig, num_hashes, bands, hash_fn).withColumnRenamed(
            "__id", id_col
        ).write.mode(mode).partitionBy("band").parquet(os.path.join(path, "bands"))
    finally:
        sig.unpersist()


def _append_parts(sig: DataFrame, path: str, id_col: str, meta: dict) -> int:
    """Append signature rows + their band postings with PER-COMPONENT
    idempotence (ADVICE r11: keying idempotence on the signatures table
    alone lost a batch's band postings FOREVER when a crash landed
    between the two writes — the retry saw the ids stored and no-op'd,
    leaving the batch recorded in signatures but invisible to every
    probe). Returns the number of documents whose postings landed
    (new + healed).

    Cost model, because this runs per micro-batch at index scale:

    - FAST PATH (every normal append): one scan of the stored signature
      IDS — the same screen the pre-r12 append paid — plus the two
      writes. The bands table (``bands×`` more rows) is NOT read.
    - HEAL PATH (only when some batch id is already in signatures, i.e.
      a retry after the crash window or a replayed micro-batch): the
      bands table's distinct ids are read once, and the stranded ids'
      postings are re-derived from the IN-HAND signature rows (no
      re-shingling, no duplicate signature rows) and back-filled.

    Frames that feed a write into the directory their own plan read are
    localCheckpoint'ed first — a lazy plan would re-list files
    mid-write."""
    spark = sig.sparkSession
    num_hashes, bands, hash_fn = meta["num_hashes"], meta["bands"], meta["hash_fn"]
    sig = sig.persist()
    try:
        stored_sig = spark.read.parquet(os.path.join(path, "signatures")).select(
            F.col(id_col).alias("__id")
        )
        held = (
            sig.select("__id")
            .join(stored_sig, "__id", "left_semi")
            .localCheckpoint(eager=True)
        )
        healing = not held.isEmpty()
        new_sig = sig.join(held, "__id", "left_anti") if healing else sig
        n_new = new_sig.count()
        if n_new:
            new_sig.withColumnRenamed("__id", id_col).write.mode(
                "append"
            ).parquet(os.path.join(path, "signatures"))
        band_src = new_sig
        n_heal = 0
        if healing:
            stored_band = (
                spark.read.parquet(os.path.join(path, "bands"))
                .select(F.col(id_col).alias("__id"))
                .distinct()
            )
            stranded = held.join(stored_band, "__id", "left_anti").localCheckpoint(
                eager=True
            )
            n_heal = stranded.count()
            if n_heal:
                band_src = new_sig.unionByName(
                    sig.join(stranded, "__id", "left_semi")
                )
        if n_new or n_heal:
            _band_postings(band_src, num_hashes, bands, hash_fn).withColumnRenamed(
                "__id", id_col
            ).write.mode("append").partitionBy("band").parquet(
                os.path.join(path, "bands")
            )
        return n_new + n_heal
    finally:
        sig.unpersist()


def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
) -> None:
    """Build the index from the current corpus (overwrites ``path``).

    The ``_minhash_meta.json`` parameters doc is published LAST, by
    tmp+rename through the Hadoop FileSystem API (the same
    :mod:`~mini_etl_spark.statefile` protocol as the Bloom, IVF and
    jaccard markers), so it lands next to the index data on any URI
    scheme and a crash mid-write never leaves it torn."""
    if num_hashes % bands != 0:
        raise ValueError("minhash_index_write: bands must divide num_hashes")
    meta = {
        "text_col": text_col,
        "id_col": id_col,
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "hash_fn": hash_fn,
    }
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, hash_fn)
    _write_parts(sig, path, id_col, meta, mode="overwrite")
    _write_state(df.sparkSession, os.path.join(path, _META), meta)


def _read_meta(path: str, spark: SparkSession | None = None) -> dict:
    meta = _read_state(_session(spark, "minhash index"), os.path.join(path, _META))
    if not meta:
        raise FileNotFoundError(f"minhash index at {path!r} has no {_META}")
    return meta


def minhash_index_append(df: DataFrame, path: str) -> int:
    """Append an accepted batch to the index. Idempotent AND
    crash-window-safe: a batch id is considered indexed only when it is
    present in BOTH component tables, and each component write
    anti-joins against its own stored ids (:func:`_append_parts`), so

    - re-running a completed append (e.g. a crashed CLI ``index-append``
      retried after the fact) is a no-op — nothing duplicates;
    - retrying after a crash BETWEEN the two writes (signatures landed,
      bands didn't) re-shingles the batch and back-fills only the
      missing band postings — the batch is never silently lost to
      probes the way a signatures-only idempotence key lost it.

    Same contract as ivf_index_append's stored-id anti-join and the
    Bloom gram anti-join. Returns the number of documents (re-)appended;
    a heal-only retry counts the healed docs. Cost: the fast path (no
    batch id already stored) scans only the stored signature ids — the
    pre-r12 screen — and the batch is shingled once; the bands table is
    read only on the heal path (see :func:`_append_parts`)."""
    meta = _read_meta(path, df.sparkSession)
    id_col = meta["id_col"]
    sig = minhash_signatures(
        df, meta["text_col"], id_col, meta["n"], meta["num_hashes"],
        meta["hash_fn"],
    )
    return _append_parts(sig, path, id_col, meta)


def minhash_index_filter(
    batch: DataFrame,
    path: str,
    threshold: float = 0.5,
    max_bucket_freq: int | str | None = 1000,
    append_survivors: bool = False,
    in_batch: bool = True,
) -> DataFrame:
    """The ingestion-pipeline form: return ``batch`` minus the documents
    that near-duplicate anything already in the index (one broadcast-
    friendly anti-join on the matched batch ids). With
    ``append_survivors=True`` the kept documents are immediately added to
    the index, so the next batch sees them — the complete continuous-
    ingestion loop in one call (single-writer contract, see
    :func:`minhash_index_append`). Exposed to YAML pipelines as the
    ``index_dedup`` transformer.

    ``in_batch=True`` (default) also dedups WITHIN the batch — two
    near-duplicate docs arriving together keep only the min-id member of
    their near-dup component (mirroring the in-batch winners step of
    :func:`fingerprint_index_filter`), so co-arriving duplicates are
    never both permanently indexed. The in-batch pairs reuse the probe's
    checkpointed signatures (same index hash config — no re-shingling):
    band self-join, signature-agreement verify at the same ``threshold``,
    connected-component min-id winners. ``in_batch=False`` restores the
    index-only gate (a caller that already pre-deduped the batch)."""
    from mini_etl_spark.functions.dedup import drop_near_duplicates

    spark = batch.sparkSession
    matches, b_sig, meta = _probe(spark, path, batch, threshold, max_bucket_freq)
    id_col = meta["id_col"]
    num_hashes = meta["num_hashes"]
    dup_ids = matches.select(F.col("batch_id").alias(id_col)).distinct()
    kept = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    if in_batch:
        # candidates among index-survivors only: band self-join on the
        # probe signatures (id_a < id_b halves the pair space), then the
        # same agreement fraction the index probe scores with
        surv_ids = kept.select(F.col(id_col).alias("__id"))
        kept_sig = b_sig.join(F.broadcast(surv_ids), "__id", "left_semi")
        kb = _band_postings(kept_sig, num_hashes, meta["bands"], meta["hash_fn"])
        cand = (
            kb.select(F.col("__id").alias("id_a"), "band", "bucket")
            .join(
                kb.select(F.col("__id").alias("id_b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        agreement = sum(
            (F.col(f"__a_h{i}") == F.col(f"__b_h{i}")).cast("int")
            for i in range(num_hashes)
        )
        pairs = (
            cand.join(
                kept_sig.select(
                    F.col("__id").alias("id_a"),
                    *[F.col(f"h{i}").alias(f"__a_h{i}") for i in range(num_hashes)],
                ),
                "id_a",
            )
            .join(
                kept_sig.select(
                    F.col("__id").alias("id_b"),
                    *[F.col(f"h{i}").alias(f"__b_h{i}") for i in range(num_hashes)],
                ),
                "id_b",
            )
            .filter(
                F.round(agreement / F.lit(float(num_hashes)), 4) >= threshold
            )
            .select("id_a", "id_b")
        )
        kept = drop_near_duplicates(kept, pairs, id_col=id_col)
    if append_survivors:
        # localCheckpoint, not persist: the append WRITES to `path`, and
        # Spark re-caches (recomputes) any cached plan that reads a
        # just-written path — the survivors would then re-probe an index
        # that already contains them and vanish. Checkpointing severs the
        # plan's dependency on the index files before they change.
        kept = kept.localCheckpoint(eager=True)
        # append from the PROBE's signatures (checkpointed) — the batch
        # text is not re-shingled/re-hashed a second time
        surv_sig = b_sig.join(
            F.broadcast(kept.select(F.col(id_col).alias("__id"))),
            "__id",
            "left_semi",
        )
        # per-component idempotent append: a foreachBatch replay of this
        # batch (stream_dedup_against_index crash window) re-probes, and
        # any survivor whose signatures landed but whose bands didn't is
        # healed instead of duplicated or dropped
        _append_parts(surv_sig, path, id_col, meta)
    return kept


def fingerprint_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """EXACT counterpart of the MinHash index: persist the corpus'
    token-set fingerprints (``text.fingerprint`` — md5 of the sorted
    distinct token set, 32 bytes/doc). One projection + one write; the
    cheapest possible dedup memory of a 100 TB corpus."""
    from mini_etl_spark.functions.text import fingerprint

    df.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    ).write.mode(mode).parquet(os.path.join(path, "fingerprints"))


def fingerprint_index_filter(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    append_survivors: bool = False,
) -> DataFrame:
    """Drop batch documents whose exact token-set fingerprint is already
    indexed (plus in-batch duplicates — first id wins); optionally append
    the survivors' fingerprints so the next batch sees them. One
    left-anti equi-join on 32-byte keys — no text ever crosses the
    shuffle. Compose with :func:`minhash_index_filter` for the standard
    two-stage gate: exact first (cheap), near-dup on what remains."""
    from mini_etl_spark.functions.text import fingerprint

    spark = batch.sparkSession
    fps = spark.read.parquet(os.path.join(path, "fingerprints")).select("fp")
    stamped = batch.withColumn("__fp", fingerprint(text_col))
    fresh = stamped.join(
        fps.withColumnRenamed("fp", "__fp"), "__fp", "left_anti"
    )
    # in-batch exact dups: keep the min-id holder of each fingerprint
    winners = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    kept = fresh.join(winners, ["__fp", id_col], "left_semi")
    if append_survivors:
        kept = kept.localCheckpoint(eager=True)  # sever dep on index files
        kept.select(F.col(id_col), F.col("__fp").alias("fp")).write.mode(
            "append"
        ).parquet(os.path.join(path, "fingerprints"))
    return kept.drop("__fp")


def minhash_index_dedup(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float = 0.5,
    max_bucket_freq: int | str | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs between ``batch`` and the indexed corpus:
    (``batch_id``, ``corpus_id``, ``est_jaccard``), est_jaccard = fraction
    of agreeing MinHash components (rounded to 4 places), filtered to
    ``>= threshold``. The corpus text is never read — only bucket postings
    the batch collides with, plus the candidates' signature rows.

    ``max_bucket_freq`` drops index buckets holding more than that many
    corpus docs before the join (broadcast anti-join on the hot-bucket
    list) — boilerplate shingle-sets otherwise contribute O(freq) pairs
    *per batch doc*, the same blowup ``jaccard_pairs`` caps."""
    scored, _, _ = _probe(spark, path, batch, threshold, max_bucket_freq)
    return scored


def _probe(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float,
    max_bucket_freq: int | str | None,
) -> tuple[DataFrame, DataFrame, dict]:
    """(scored matches, checkpointed batch signatures, meta). The batch
    signatures are ``localCheckpoint``-ed — computed exactly once, shared
    by the band probe, the agreement scoring, and (in
    :func:`minhash_index_filter`) the survivor append; the blocks are
    released by the context cleaner when the frames are dropped, unlike a
    ``persist`` that would pin one cache entry per ingested batch for the
    life of the session."""
    meta = _read_meta(path, spark)
    id_col, num_hashes = meta["id_col"], meta["num_hashes"]

    corpus_bands = spark.read.parquet(os.path.join(path, "bands"))
    corpus_sig = spark.read.parquet(os.path.join(path, "signatures"))
    if max_bucket_freq is not None:
        freq = corpus_bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__f")
        )
        # "auto" derives the cap from the index's own bucket-size
        # distribution (operators.skew.auto_frequency_cap) — same
        # corpus-adaptive contract as the dedup pair joins
        from mini_etl_spark.functions.dedup import _resolve_freq_cap

        freq, cap = _resolve_freq_cap(freq, max_bucket_freq)
        hot = freq.filter(F.col("__f") > cap).select("band", "bucket")
        corpus_bands = corpus_bands.join(
            F.broadcast(hot), ["band", "bucket"], "left_anti"
        )

    b_sig = minhash_signatures(
        batch, meta["text_col"], id_col, meta["n"], num_hashes, meta["hash_fn"]
    ).localCheckpoint(eager=True)
    b_bands = _band_postings(b_sig, num_hashes, meta["bands"], meta["hash_fn"])

    candidates = (
        b_bands.withColumnRenamed("__id", "batch_id")
        .join(
            corpus_bands.withColumnRenamed(id_col, "corpus_id"),
            ["band", "bucket"],
        )
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )

    agreement = sum(
        (F.col(f"__b_h{i}") == F.col(f"__c_h{i}")).cast("int") for i in range(num_hashes)
    )
    scored = (
        candidates.join(
            b_sig.select(
                F.col("__id").alias("batch_id"),
                *[F.col(f"h{i}").alias(f"__b_h{i}") for i in range(num_hashes)],
            ),
            "batch_id",
        )
        .join(
            corpus_sig.select(
                F.col(id_col).alias("corpus_id"),
                *[F.col(f"h{i}").alias(f"__c_h{i}") for i in range(num_hashes)],
            ),
            "corpus_id",
        )
        .withColumn(
            "est_jaccard", F.round(agreement / F.lit(float(num_hashes)), 4)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("batch_id", "corpus_id", "est_jaccard")
    )
    return scored, b_sig, meta
