"""Bloom-filter membership screening — broadcast-bitmask decontamination.

No reference parity: the reference (single-process pandas,
/root/reference/mini_etl) has no probabilistic membership structure. This
is part of the LLM-data-pipeline extension: the GPT-3-style exact n-gram
decontamination recipe (Brown et al. 2020, appendix C: build a Bloom
filter over benchmark n-grams, screen every training document against it)
and, more generally, "is this key in the small set" tests against a
corpus too large to shuffle.

Why a Bloom filter at 100 TB
----------------------------
The benchmark/blocklist side of a decontamination join is tiny (millions
of n-grams); the corpus side is the whole 100 TB. A plain equi-join
shuffles corpus-scale n-gram postings on the join key. The Bloom form
never shuffles the corpus: the benchmark set is folded into a bitmask of
a few MB, and every corpus n-gram is tested map-side. Only the tiny
might-contain remainder (true hits + the controlled false-positive rate)
reaches an exact verification join, so false positives cost a little
extra verify work and never change the result — and Bloom filters have
no false negatives, so nothing leaks past the screen.

Engine portability
------------------
Bit positions come from ONE md5 per value, split into two 32-bit halves
and combined Kirsch–Mitzenmacher style (pos_i = h1 + i·h2 mod n_bits,
h2 forced odd) — the standard "two hashes simulate k" construction, and
bit-replayable in DuckDB (same ``md5(seed || US || value)`` byte layout
as :func:`mini_etl_spark.functions.splits.hash_bucket`). Words hold
**62** bits, not 64: every mask stays a positive long computed as an
exact power of two in plain arithmetic, dodging the bit-63 divergence
(Spark's long ``shiftleft`` wraps where DuckDB's ``<<`` overflow-checks)
that the SimHash oracle has to special-case.

Plan shape
----------
``bloom_build`` is one explode + hash aggregate over the SMALL side.
``with_might_contain`` is k broadcast hash joins against the word table
— no shuffle, no explode, no re-grouping of the corpus side; the whole
membership test stays inside one map stage of whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mini_etl_spark.statefile import _read_state, _write_state

#: Bits carried per word of the filter. 62 (not 64) so every mask is a
#: positive long and ``pow(2, bit)`` is exact in double precision in both
#: engines — see the module docstring.
BITS_PER_WORD = 62

_US = "\x1f"  # unit separator: delimits seed from value, as in splits.py


def bloom_parameters(n_items: int, target_fp: float = 0.01) -> tuple[int, int]:
    """Classic sizing: (n_bits, k) for ``n_items`` keys at ``target_fp``
    false-positive rate — n_bits = -n·ln(p)/ln(2)², k = (n_bits/n)·ln(2).
    n_bits is rounded up to a whole word so the word table is dense."""
    if n_items <= 0:
        raise ValueError("bloom_parameters: n_items must be positive")
    if not 0.0 < target_fp < 1.0:
        raise ValueError("bloom_parameters: target_fp must be in (0, 1)")
    n_bits = math.ceil(-n_items * math.log(target_fp) / (math.log(2) ** 2))
    n_bits = ((n_bits + BITS_PER_WORD - 1) // BITS_PER_WORD) * BITS_PER_WORD
    # clamp to the validated hash-count range: the word-rounding slack
    # can push the optimal k absurdly high for tiny n_items (n=1 -> 43)
    k = min(32, max(1, round((n_bits / n_items) * math.log(2))))
    return n_bits, int(k)


def bloom_parameters_for_k(
    n_items: int, k: int, target_fp: float = 0.01
) -> int:
    """n_bits for a FIXED hash count ``k`` at ``target_fp``:
    m = −k·n / ln(1 − p^(1/k)) — the sizing inverse of
    :func:`bloom_parameters` holding k constant, for the config path
    where a user pins ``hashes:`` but leaves ``n_bits`` auto. Rounded up
    to a whole word."""
    if n_items <= 0:
        raise ValueError("bloom_parameters_for_k: n_items must be positive")
    if not 1 <= k <= 32:
        raise ValueError("bloom_parameters_for_k: k must be in [1, 32]")
    if not 0.0 < target_fp < 1.0:
        raise ValueError("bloom_parameters_for_k: target_fp must be in (0, 1)")
    n_bits = math.ceil(-k * n_items / math.log(1.0 - target_fp ** (1.0 / k)))
    n_bits = ((n_bits + BITS_PER_WORD - 1) // BITS_PER_WORD) * BITS_PER_WORD
    return max(n_bits, BITS_PER_WORD)


def bloom_fp_rate(n_items: int, n_bits: int, k: int) -> float:
    """Expected false-positive rate (1 − e^(−k·n/m))^k — the sizing
    inverse of :func:`bloom_parameters`, for logging/assertions."""
    if min(n_items, n_bits, k) <= 0:
        raise ValueError("bloom_fp_rate: all arguments must be positive")
    return (1.0 - math.exp(-k * n_items / n_bits)) ** k


def _hash_halves(col: Column, seed: int) -> tuple[Column, Column]:
    """(h1, h2) from one md5 of (seed, value): first/second 8 hex chars as
    32-bit ints, h2 forced odd (h2 + 1 − h2 % 2) so the i·h2 stride never
    degenerates to a single position. Pure arithmetic — no bit ops — so
    DuckDB replays it verbatim."""
    h = F.md5(
        F.concat_ws(_US, F.lit(str(seed)), col.cast("string")).cast("binary")
    )
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2r = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return h1, h2r + F.lit(1) - (h2r % F.lit(2))


def _word_idx(pos: Column) -> Column:
    return F.floor(pos / F.lit(BITS_PER_WORD)).cast("long")


def _word_mask(pos: Column) -> Column:
    # exact: 2^b for b ≤ 61 is exactly representable in double
    return F.pow(F.lit(2.0), (pos % F.lit(BITS_PER_WORD)).cast("double")).cast(
        "long"
    )


def _reject_streaming(df: DataFrame, op: str) -> None:
    """The decontamination screens end in an anti-join of the frame
    against doc ids derived FROM the frame — a stream-stream join
    Structured Streaming cannot run (and the eager index checkpoint
    cannot either). Screening a stream is still one line, just per
    micro-batch: foreachBatch(lambda b, _:
    bloom_decontaminate_indexed(b, index_path)...), or the repeated
    availableNow batch pattern the incremental examples use."""
    if getattr(df, "isStreaming", False):
        raise ValueError(
            f"{op}: the corpus frame is a streaming DataFrame — the "
            "screen's final anti-join is stream-stream and unsupported. "
            "Apply it per micro-batch inside foreachBatch (see docstring) "
            "or run the batch pipeline incrementally."
        )


def _free_prefix(df: DataFrame) -> str:
    """Temp-column prefix guaranteed absent from ``df``: ``__`` normally,
    lengthened until no existing column starts with it — so a caller
    frame already carrying ``__h1``/``__w0``-style names is never
    silently overwritten and dropped by the screen's scratch columns."""
    pfx = "__"
    while any(c.startswith(pfx) for c in df.columns):
        pfx += "_"
    return pfx


def _validate(n_bits: int, k: int) -> None:
    if n_bits < BITS_PER_WORD:
        raise ValueError(f"bloom: n_bits must be >= {BITS_PER_WORD}")
    if not 1 <= k <= 32:
        raise ValueError("bloom: k must be in [1, 32]")


def _resolve_sizing(
    n_bits: int | str,
    k: int | str,
    target_fp: float,
    op: str,
    count_items,
) -> tuple[int, int]:
    """Resolve the (n_bits, k) pair from the user's (possibly "auto")
    inputs. ``count_items`` is a thunk so the gram count (a Spark action)
    only runs when auto sizing actually needs it. A user-pinned ``k``
    with auto ``n_bits`` sizes the bitmask FOR that k
    (:func:`bloom_parameters_for_k`) instead of silently discarding it;
    ``k="auto"`` with explicit ``n_bits`` keeps the legacy default 7."""
    if k != "auto" and not isinstance(k, int):
        raise ValueError(f'{op}: k must be int or "auto", got {k!r}')
    if n_bits == "auto":
        n_items = count_items()
        if k == "auto":
            return bloom_parameters(n_items, target_fp)
        return bloom_parameters_for_k(n_items, k, target_fp), k
    if not isinstance(n_bits, int):
        raise ValueError(f'{op}: n_bits must be int or "auto", got {n_bits!r}')
    return n_bits, 7 if k == "auto" else k


def bloom_build(
    df: DataFrame,
    column: str,
    *,
    n_bits: int = 1 << 20,
    k: int = 7,
    seed: int = 42,
) -> DataFrame:
    """Fold ``df[column]`` into a Bloom word table ``(word_idx, word)``
    — sparse (all-zero words absent), at most ``ceil(n_bits / 62)`` rows
    regardless of input size. One explode(k positions) + one hash
    aggregate; nulls contribute nothing. Build this over the SMALL side
    (benchmark n-grams, a blocklist) — the table is what
    :func:`with_might_contain` broadcasts."""
    _validate(n_bits, k)
    p = _free_prefix(df)
    h1, h2 = _hash_halves(F.col(column), seed)
    positions = F.array(
        *[
            (F.col(f"{p}h1") + F.lit(i) * F.col(f"{p}h2")) % F.lit(n_bits)
            for i in range(k)
        ]
    )
    return (
        df.filter(F.col(column).isNotNull())
        .select(F.col(column))
        .withColumn(f"{p}h1", h1)
        .withColumn(f"{p}h2", h2)
        .select(F.explode(positions).alias(f"{p}pos"))
        .groupBy(_word_idx(F.col(f"{p}pos")).alias("word_idx"))
        .agg(F.bit_or(_word_mask(F.col(f"{p}pos"))).alias("word"))
    )


def with_might_contain(
    df: DataFrame,
    column: str,
    bloom: DataFrame,
    *,
    n_bits: int = 1 << 20,
    k: int = 7,
    seed: int = 42,
    out_col: str = "might_contain",
) -> DataFrame:
    """``df`` plus a boolean ``out_col``: true iff all ``k`` bits for
    ``df[column]`` are set in ``bloom`` (a :func:`bloom_build` table with
    the SAME n_bits/k/seed — mismatched parameters test garbage bits).

    The corpus-side scale path: k broadcast hash joins on word index —
    the big side is never shuffled, exploded, or re-grouped, so the test
    runs entirely map-side. False positives are possible (size with
    :func:`bloom_parameters`); false negatives are not. ``bloom`` is
    referenced k times — pass a materialized frame (persist or
    localCheckpoint) so the build isn't recomputed per join. Null keys
    test false."""
    _validate(n_bits, k)
    p = _free_prefix(df)
    h1, h2 = _hash_halves(F.col(column), seed)
    d = df.withColumn(f"{p}h1", h1).withColumn(f"{p}h2", h2)
    temp = [f"{p}h1", f"{p}h2"]
    hit = None
    for i in range(k):
        pos = (F.col(f"{p}h1") + F.lit(i) * F.col(f"{p}h2")) % F.lit(n_bits)
        d = d.withColumn(f"{p}m{i}", _word_mask(pos)).withColumn(
            f"{p}w{i}", _word_idx(pos)
        )
        side = bloom.select(
            F.col("word_idx").alias(f"{p}bi{i}"),
            F.col("word").alias(f"{p}bw{i}"),
        )
        d = d.join(
            F.broadcast(side), F.col(f"{p}w{i}") == F.col(f"{p}bi{i}"), "left"
        )
        h = F.col(f"{p}bw{i}").isNotNull() & (
            F.col(f"{p}bw{i}").bitwiseAND(F.col(f"{p}m{i}"))
            == F.col(f"{p}m{i}")
        )
        hit = h if hit is None else hit & h
        temp += [f"{p}m{i}", f"{p}w{i}", f"{p}bi{i}", f"{p}bw{i}"]
    return d.withColumn(out_col, F.coalesce(hit, F.lit(False))).drop(*temp)


def bloom_decontaminate(
    train_df: DataFrame,
    test_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    n_bits: int | str = "auto",
    k: int | str = "auto",
    seed: int = 42,
    target_fp: float = 0.01,
) -> DataFrame:
    """Exact n-gram MEMBERSHIP decontamination, Bloom-accelerated: drop
    every training document sharing ANY token ``n``-gram with the
    benchmark (``test_df``) — the GPT-3 recipe (13-grams there; ``n`` is
    the dial). Complements :func:`mini_etl_spark.functions.dedup.decontaminate`,
    which drops on n-gram CONTAINMENT ratio ≥ threshold via an
    inverted-index join: membership screening is the stricter/cheaper
    front line, containment the graded second pass.

    Pipeline: benchmark n-grams (materialized once, reused by the build
    and the verify) → Bloom words sized to the MEASURED gram count at
    ``target_fp`` when ``n_bits="auto"`` (a fixed size silently
    saturates when the benchmark outgrows it — fp → 1 and the screen
    stops pruning; auto keeps the fp honest at any scale for the price
    of one count on the already-materialized frame) → map-side
    might-contain over the training grams → exact verify of the tiny
    remainder → anti-join. The verify join is NOT hint-forced: the
    candidate side is bloom-pruned small, the benchmark side is whatever
    it is, and AQE picks broadcast vs shuffle from real sizes — forcing
    a broadcast would collect the whole benchmark to the driver the day
    it grows past memory. The verify makes Bloom false positives
    invisible in the result: output is EXACTLY "train docs with no
    shared n-gram", independent of sizing — which is what lets a plain
    SQL oracle replay it.

    The training corpus is never shuffled in the screen itself: grams
    are tested in the scan stage and only might-contain rows reach the
    verify join."""
    from mini_etl_spark.functions.text import exploded_shingles

    _reject_streaming(train_df, "bloom_decontaminate")

    te_grams = (
        exploded_shingles(test_df, text_col, id_col, "__id", "__gram", n)
        .select("__gram")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_bits, k = _resolve_sizing(
        n_bits, k, target_fp, "bloom_decontaminate",
        lambda: max(te_grams.count(), 1),
    )
    bloom = bloom_build(
        te_grams, "__gram", n_bits=n_bits, k=k, seed=seed
    ).localCheckpoint(eager=True)
    tr_grams = exploded_shingles(train_df, text_col, id_col, "__id", "__gram", n)
    candidates = with_might_contain(
        tr_grams, "__gram", bloom, n_bits=n_bits, k=k, seed=seed
    ).filter(F.col("might_contain"))
    bad = (
        candidates.join(te_grams, "__gram", "left_semi")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return train_df.join(bad, on=id_col, how="left_anti")


def decontamination_index_write(
    benchmark_df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    n_bits: int | str = "auto",
    k: int | str = "auto",
    seed: int = 42,
    target_fp: float = 0.01,
) -> dict:
    """Build ONCE, screen many: persist the benchmark's distinct n-grams
    (``<path>/grams``), their Bloom word table (``<path>/words``), and
    the hash parameters (``<path>/_BLOOM.json``) — the production shape
    of decontamination, where the benchmark suite is fixed and every
    nightly ingestion batch gets screened without re-shingling it
    (mirrors dedup_index's build-once/probe-many contract,
    dedup_index.py minhash_index_write).

    The params doc is published LAST via the tmp+rename state protocol,
    so a crash mid-build leaves no readable marker and
    :func:`bloom_decontaminate_indexed` refuses the half-built index
    loudly. Auto sizing counts the PERSISTED grams (one metadata-cheap
    scan), so the filter is sized to the real benchmark. Returns the
    resolved params."""
    from mini_etl_spark.functions.text import exploded_shingles

    spark = benchmark_df.sparkSession
    (
        exploded_shingles(benchmark_df, text_col, id_col, "__id", "gram", n)
        .select("gram")
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{path}/grams")
    )
    grams = spark.read.parquet(f"{path}/grams")
    n_grams = max(grams.count(), 1)
    n_bits, k = _resolve_sizing(
        n_bits, k, target_fp, "decontamination_index_write", lambda: n_grams
    )
    bloom_build(grams, "gram", n_bits=n_bits, k=k, seed=seed).write.mode(
        "overwrite"
    ).parquet(f"{path}/words")
    params = {
        "n": n,
        "n_bits": n_bits,
        "k": k,
        "seed": seed,
        "format": 2,
        "state": "ready",
        "n_grams": n_grams,
        "target_fp": target_fp,
        "appends": 0,
    }
    _write_state(spark, f"{path}/_BLOOM.json", params)
    return params


def decontamination_index_append(
    benchmark_df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Extend a persisted decontamination index with NEW benchmark docs
    without rebuilding it: the new docs' distinct n-grams (under the
    index's own ``n`` — parameters are never arguments here, exactly as
    in :func:`bloom_decontaminate_indexed`) are anti-joined against the
    stored grams, the genuinely-new ones appended to ``<path>/grams``,
    and their Bloom words OR-merged into ``<path>/words`` — so
    append ≡ rebuild over the concatenated benchmark at the same
    (n_bits, k, seed). Closes the operational gap where a grown
    benchmark suite forced a full rebuild (the MinHash index has had
    :func:`mini_etl_spark.functions.dedup_index.minhash_index_append`
    since round 7).

    Crash protocol: the marker is republished with ``state="appending"``
    BEFORE the words/grams mutate and flipped back to ``"ready"``
    (tmp+rename, atomic) only after both writes commit. A crash
    mid-append leaves the marker in ``appending`` and
    :func:`bloom_decontaminate_indexed` refuses the index loudly —
    a half-applied append could otherwise yield grams whose Bloom bits
    are unset, i.e. silent FALSE NEGATIVES, the one failure mode a
    Bloom screen must never have.

    The marker guards CRASHES, not concurrent readers: the words table
    is overwritten in place, so a screen whose lazy plan already listed
    the old files fails mid-scan (FileNotFoundException) if an append
    replaces them under it. Quiesce screens as well as writers for the
    append window — the same serialize contract as the in-place index
    compactions.

    The bitmask is NOT resized (resizing would rehash every stored gram
    — that is a rebuild); the false-positive rate therefore rises as the
    gram count grows past what the original sizing assumed. Correctness
    is unaffected (the exact verify join absorbs any fp rate), but the
    screen prunes less, so when the projected fp exceeds 4× the design
    target a WARNING recommends ``decontamination_index_write``.
    Returns the updated params (with ``n_grams``/``appends`` advanced
    and the projected ``fp_rate``)."""
    import logging

    from mini_etl_spark.functions.text import exploded_shingles

    log = logging.getLogger(__name__)
    spark = benchmark_df.sparkSession
    marker = f"{path}/_BLOOM.json"
    params = _read_state(spark, marker)
    if not params or "n_bits" not in params:
        raise ValueError(
            f"{path!r} is not a decontamination index (no readable "
            f"{marker!r}). Build it with decontamination_index_write."
        )
    if params.get("state", "ready") != "ready":
        raise ValueError(
            f"decontamination index {path!r} is mid-append "
            f"(state={params.get('state')!r} — a previous append "
            "crashed between the words and grams writes). Rebuild with "
            "decontamination_index_write; screening now could miss "
            "contamination."
        )
    existing = spark.read.parquet(f"{path}/grams")
    new_grams = (
        exploded_shingles(
            benchmark_df, text_col, id_col, "__id", "gram", int(params["n"])
        )
        .select("gram")
        .distinct()
        .join(existing, "gram", "left_anti")
        .localCheckpoint(eager=True)
    )
    n_new = new_grams.count()
    if n_new == 0:
        log.info(
            "decontamination_index_append: no new grams for %s — no-op", path
        )
        return params
    # legacy (format-1) markers predate gram-count tracking: count the
    # stored grams NOW (before the append mutates the dir) so the fp
    # projection stays honest
    base = params.get("n_grams")
    base = existing.count() if base is None else int(base)
    n_bits, k = int(params["n_bits"]), int(params["k"])
    # merged = existing ∪ new, bit_or per word; localCheckpoint severs
    # the plan from the files the overwrite is about to replace (the
    # same read-then-overwrite hazard minhash_index_filter documents)
    merged = (
        spark.read.parquet(f"{path}/words")
        .unionByName(
            bloom_build(
                new_grams, "gram", n_bits=n_bits, k=k,
                seed=int(params["seed"]),
            )
        )
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
        .localCheckpoint(eager=True)
    )
    updated = dict(params)
    updated["state"] = "appending"
    _write_state(spark, marker, updated)
    merged.write.mode("overwrite").parquet(f"{path}/words")
    new_grams.write.mode("append").parquet(f"{path}/grams")
    updated["state"] = "ready"
    updated["n_grams"] = base + n_new
    updated["appends"] = int(params.get("appends", 0)) + 1
    updated["fp_rate"] = bloom_fp_rate(updated["n_grams"], n_bits, k)
    _write_state(spark, marker, updated)
    target = float(params.get("target_fp", 0.01))
    if updated["fp_rate"] > 4 * target:
        log.warning(
            "decontamination_index_append: projected fp rate %.4f exceeds "
            "4x the design target %.4f (%d grams in a %d-bit filter) — "
            "the screen still returns exact results (the verify join "
            "absorbs false positives) but prunes less; rebuild with "
            "decontamination_index_write to re-size.",
            updated["fp_rate"], target, updated["n_grams"], n_bits,
        )
    return updated


def bloom_decontaminate_indexed(
    batch_df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Screen an ingestion batch against a PERSISTED decontamination
    index (:func:`decontamination_index_write`) — the benchmark text is
    never re-read or re-shingled. Hash parameters come from the index's
    own ``_BLOOM.json`` (a probe with drifted parameters would test
    garbage bits, so they are not arguments here); a missing or
    unreadable marker fails loudly rather than screening against a
    half-built index. Same result contract as
    :func:`bloom_decontaminate`: batch docs sharing no n-gram with the
    benchmark, independent of the filter sizing."""
    from mini_etl_spark.functions.text import exploded_shingles

    _reject_streaming(batch_df, "bloom_decontaminate_indexed")
    spark = batch_df.sparkSession
    marker = f"{path}/_BLOOM.json"
    try:
        params = _read_state(spark, marker)
    except ValueError as exc:
        raise ValueError(
            f"unreadable decontamination index marker {marker!r}"
        ) from exc
    if not params or "n_bits" not in params:
        raise ValueError(
            f"{path!r} is not a decontamination index (no {marker!r} — "
            "half-built index from a crashed write, or wrong path). "
            "Rebuild with decontamination_index_write."
        )
    if params.get("state", "ready") != "ready":
        raise ValueError(
            f"decontamination index {path!r} is mid-append "
            f"(state={params.get('state')!r} — an append crashed between "
            "the words and grams writes). Screening against it could "
            "MISS contamination (grams whose Bloom bits are unset); "
            "rebuild with decontamination_index_write."
        )
    words = spark.read.parquet(f"{path}/words")
    te_grams = spark.read.parquet(f"{path}/grams").select(
        F.col("gram").alias("__gram")
    )
    batch_grams = exploded_shingles(
        batch_df, text_col, id_col, "__id", "__gram", int(params["n"])
    )
    candidates = with_might_contain(
        batch_grams,
        "__gram",
        words,
        n_bits=int(params["n_bits"]),
        k=int(params["k"]),
        seed=int(params["seed"]),
    ).filter(F.col("might_contain"))
    bad = (
        candidates.join(te_grams, "__gram", "left_semi")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return batch_df.join(bad, on=id_col, how="left_anti")
