"""Deduplication at scale: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design stance for 100 TB:

- **exact**: one hash-aggregate on a content fingerprint — the cheapest
  global dedup; no sort, no window, skew-safe under AQE.
- **jaccard_pairs**: *exact* similarity join via an inverted index on
  shingles (explode → self-join on shingle → count shared per pair). Cost is
  Σ|posting list|² per shingle, so hot shingles are capped (stop-shingle
  removal via ``max_shingle_freq``) — the standard trick to keep the join
  near-linear. This is the exactness oracle for the approximate paths.
- **minhash_lsh_pairs**: MinHash signatures (k permutations of xxhash64) →
  banded LSH buckets → candidates only where a band matches → exact Jaccard
  verification of candidates. One shuffle per stage; candidate count ≈
  true-pair count for reasonable (k, bands). The scale path.
- **simhash64**: 64-bit SimHash per document; near-dups share simhash up to
  a few bits — dedup/clustering key without pairwise joins at all.
- **embedding_cosine_pairs**: exact pair join over embeddings (baseline);
  at scale the LSH variant in :mod:`similarity` bounds the candidates.
- **connected_components / drop_near_duplicates**: pair lists → duplicate
  GROUPS (min-id representative per component) → deduped corpus. The last
  step every near-dup pipeline needs; iterative min-label propagation,
  each round one shuffle.

MinHash/SimHash use Spark's ``xxhash64`` (JVM-side, vectorizable). They are
not expressible in DuckDB SQL, so their driver check is rows-only; their
*correctness* gate is the self-differential pytest: LSH candidates ∪ verify
== exact ``jaccard_pairs`` on the test tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mini_etl_spark.functions.text import (
    exploded_tokens,
    fingerprint,
    shingles_from_tokens,
    tokens,
)
from mini_etl_spark.session import estimated_bytes


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle array) with tokens materialized first — see
    shingles_from_tokens for why the two-step projection matters."""
    return (
        df.withColumn("__toks", tokens(text_col))
        .select(
            F.col(id_col).alias("__id"),
            shingles_from_tokens(F.col("__toks"), n).alias("__sh"),
        )
    )


def _resolve_freq_cap(freq: DataFrame, cap) -> tuple[DataFrame, int]:
    """Resolve a hot-key cap parameter at a pair-join guard site: an int
    passes through; the literal string ``"auto"`` derives the cap from
    the observed frequency distribution
    (:func:`mini_etl_spark.operators.skew.auto_frequency_cap` — 4× the
    99.9th-percentile document frequency, floored), so a corpus with a
    different boilerplate profile needs no hand tuning.
    ``"auto:<budget>"`` (e.g. ``"auto:1e9"``) additionally bounds the
    post-cap candidate volume ``Σ df²`` — the inverted-index join's
    actual work — to the budget: a distribution with many keys just
    under a plain cap can pay ``survivors × cap²`` even with no single
    hot key (the 20× replica measurement in SCALE.md), and the budget
    form bounds it (up to the cap floor — see
    :func:`~mini_etl_spark.operators.skew.auto_frequency_cap`, which
    warns when the floor overrides the fitted budget). When auto the
    freq frame is
    materialized via localCheckpoint — it is read twice (quantile
    scalar + anti-join broadcast) and the blocks release when the frame
    drops, so per-batch callers (the streaming index gate) cannot pin
    one cache entry per call the way persist() would."""
    if isinstance(cap, str) and (cap == "auto" or cap.startswith("auto:")):
        from mini_etl_spark.operators.skew import (
            auto_frequency_cap,
            parse_freq_budget,
        )

        budget = parse_freq_budget(cap) if ":" in cap else None
        freq = freq.localCheckpoint(eager=True)
        return freq, auto_frequency_cap(freq, max_candidate_volume=budget)
    if not isinstance(cap, int):
        raise ValueError(
            f"frequency cap must be an int, None, 'auto', or "
            f"'auto:<candidate-volume budget>', got {cap!r}"
        )
    return freq, cap


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per identical token-set fingerprint.
    A single groupBy — the map-side partial aggregation makes this cheap
    even when duplicates are rare."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


def _pair_shingle_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | str | None,
) -> tuple[DataFrame, DataFrame]:
    """(doc sizes, exploded doc↔shingle postings) — shared by exact Jaccard.
    The shingled frame is persisted: sizes and postings both consume it, and
    recomputing shingles is the dominant cost."""
    sh = _shingled(df, text_col, id_col, n).withColumn("__size", F.size("__sh"))
    sh = sh.persist()
    sizes = sh.select("__id", "__size")
    postings = sh.select("__id", F.explode("__sh").alias("__g"))
    if max_shingle_freq is not None:
        # stop-shingle removal: a shingle appearing in > max_shingle_freq docs
        # contributes O(freq²) join pairs but ~no discriminative signal
        freq = postings.groupBy("__g").agg(F.count(F.lit(1)).alias("__f"))
        freq, cap = _resolve_freq_cap(freq, max_shingle_freq)
        postings = postings.join(
            F.broadcast(freq.filter(F.col("__f") > cap)),
            on="__g",
            how="left_anti",
        )
    return sizes, postings


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | str | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all (id_a < id_b) pairs with
    |A∩B| / |A∪B| ≥ threshold. Inverted-index join — never materializes the
    O(N²) pair space, only pairs sharing ≥1 shingle.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    documents before the join (stop-shingle removal). One hot shingle
    ("of the and"-grade) otherwise contributes O(freq²) join rows — the
    classic inverted-index blowup. Defaults ON (1000); pass ``None`` only
    when the corpus is known skew-free AND exactness on stop-phrase-only
    overlaps matters. Note the semantics: a dropped shingle no longer
    counts toward |A∩B|, but document sizes |A|,|B| are unchanged, so
    reported Jaccard is a lower bound for affected pairs — at freq > 1000
    the discriminative loss is ~zero."""
    sizes, postings = _pair_shingle_stats(df, text_col, id_col, n, max_shingle_freq)
    return _jaccard_from_postings(sizes, postings, threshold)


def _jaccard_ratio_tail(
    shared: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) from a per-pair shared-element
    count frame (``id_a``, ``id_b``, ``__shared``) and a sizes frame
    (``__id``, ``__size``). The threshold compares the ROUNDED ratio —
    a pair at 0.49996 rounds to 0.5000 and is kept — and every caller
    (and every SQL oracle) replays the identical expression shape."""
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__size").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__size").alias("__sb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared")
                / (F.col("__sa") + F.col("__sb") - F.col("__shared")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shared_counts(postings: DataFrame) -> DataFrame:
    """(id_a < id_b, ``__shared``) for every pair of ids sharing at least
    one element of an element-postings frame (``__id``, ``__g``): the
    inverted-index self-join, never the O(N²) pair space."""
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(b, (F.col("a.__g") == F.col("b.__g")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__shared"))
    )


def _jaccard_from_postings(
    sizes: DataFrame, postings: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) from an element-postings frame
    (``__id``, ``__g``) and a sizes frame (``__id``, ``__size``) — the
    shared inverted-index self-join + ratio tail of :func:`jaccard_pairs`
    (shingle sets) and :func:`set_jaccard_pairs` (arbitrary element
    sets)."""
    return _jaccard_ratio_tail(_shared_counts(postings), sizes, threshold)


def containment_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_freq: int | str | None = 1000,
) -> DataFrame:
    """Subset near-duplicate detection: all (id_a < id_b) pairs whose
    shared shingles cover ≥ ``threshold`` of the SMALLER document's
    shingle set (containment = |A∩B| / min(|A|, |B|)). The asymmetric
    complement of :func:`jaccard_pairs` — a short document quoted whole
    inside a long one scores near 1.0 here while its Jaccard
    (|A∩B| / |A∪B|) stays tiny, so symmetric dedup never sees it. The
    within-corpus sibling of the train/test
    :func:`contamination_pairs` measure.

    Same inverted-index plan and hot-shingle cap as the Jaccard join
    (shared postings helper — one persisted shingle pass); a capped
    shingle lowers the reported containment (lower bound), sizes
    unchanged. Returns (id_a, id_b, containment) rounded to 4."""
    sizes, postings = _pair_shingle_stats(df, text_col, id_col, n, max_shingle_freq)
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__size").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__size").alias("__sb"))
    return (
        _shared_counts(postings).join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("__shared")
                / F.least(F.col("__sa"), F.col("__sb")).cast("double"),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def set_jaccard_pairs(
    df: DataFrame,
    set_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_element_freq: int | str | None = "auto:10000000",
) -> DataFrame:
    """Generic exact Jaccard join over SET-VALUED columns: all
    (id_a < id_b) pairs with |A∩B| / |A∪B| ≥ threshold, where A/B are
    the distinct elements of ``set_col`` (any array type castable to
    string). The modality-agnostic core of :func:`jaccard_pairs` —
    feed it video frame-hash arrays (near-dup video detection), audio
    chunk fingerprints, citation lists, tag sets.

    Same architecture as the text form: inverted-index join (pair space
    Σ df(element)², never N²) with a hot-element document-frequency cap
    (``max_element_freq``; a dropped element no longer counts toward the
    intersection but set sizes are unchanged, so reported Jaccard is a
    lower bound for affected pairs). The default is the CANDIDATE-VOLUME
    BUDGET form (``"auto:10000000"`` → operators/skew.py
    auto_frequency_cap(max_candidate_volume=1e7)): set-valued corpora
    (frame hashes, tag sets) concentrate document frequency in few keys
    whose Σdf² explodes superlinearly under replication even though no
    single key crosses a quantile cap — the 20× sweep measured 90×
    wall growth under a fixed cap vs 1.73× under this budget
    (SCALE20_SJ_BUDGET.json). Raise the budget (or pass a fixed cap)
    when recall through high-frequency elements matters more than a
    work bound. Elements md5-hash to 32-byte keys
    before the join so wide payloads never shuffle — BINARY elements
    hash their raw bytes (a cast through string would decode invalid
    UTF-8 with replacement chars and collapse distinct fingerprints onto
    one key); everything else hashes its canonical string form. The
    exploded+hashed frame is persisted (it feeds the sizes aggregate,
    the frequency cap, and both self-join sides — and its upstream may
    be an expensive decode, e.g. video frames). Rows with empty/NULL
    sets produce no pairs. Returns (id_a, id_b, jaccard) rounded to 4.
    """
    elems, sizes = _set_postings(df, set_col, id_col)
    elems.persist()
    postings = elems
    if max_element_freq is not None:
        freq = elems.groupBy("__g").agg(F.count(F.lit(1)).alias("__f"))
        freq, cap = _resolve_freq_cap(freq, max_element_freq)
        postings = elems.join(
            F.broadcast(freq.filter(F.col("__f") > cap)),
            on="__g",
            how="left_anti",
        )
    return _jaccard_from_postings(sizes, postings, threshold)


def set_jaccard_pairs_exact(
    df: DataFrame,
    set_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    naive_volume_limit: float = 2e8,
) -> DataFrame:
    """EXACT set-Jaccard join — same contract as
    :func:`set_jaccard_pairs` with ``max_element_freq=None`` (every true
    pair, no lower-bound scores) — via PREFIX FILTERING (the AllPairs
    candidate generation of Bayardo, Ma & Srikant, "Scaling Up All Pairs
    Similarity Search", WWW 2007; the probing-prefix scheme PPJoin
    builds on), so the candidate space never degenerates to the
    uncapped inverted index's Σ df(element)².

    Order every set's elements by ascending GLOBAL document frequency
    (ties by element hash — any shared total order works). A pair with
    true Jaccard ≥ t overlaps by at least ⌈t·|s|⌉ elements for each of
    its sets, so by pigeonhole its sets' PREFIXES — the first
    |s| − ⌈t·|s|⌉ + 1 elements, i.e. the RAREST ones — must intersect.
    Candidates therefore come from a self-join over prefix postings
    only: hot elements participate solely for the (few) sets in which
    they are among the rarest, which is precisely where an inverted
    index is cheap. Candidate pairs are deduplicated, length-filtered
    (t·|A| ≤ |B| ≤ |A|/t is necessary), and verified EXACTLY by
    counting shared elements over the full postings — the output is
    bit-identical to the uncapped inverted-index plan at any scale.

    Because the emitted score is the ROUNDED ratio (shared tail), the
    prefix/length bounds are derived from ``threshold − 5e-5`` — the
    smallest true Jaccard that can round up past the output filter —
    and the ⌈t·|s|⌉ products take a 1e-9 slack so a float landing a
    hair above an exact integer cannot shorten a prefix. Both slacks
    only ever ADMIT extra candidates (exact verification discards
    them); they can never lose a pair.

    Scale: one per-set frequency-rank window (partitioned by id — no
    global window), a self-join whose volume is Σ prefix-df², and a
    verification join bounded by Σ|A| over surviving candidates. At the
    20× sweep fixture the uncapped inverted index admits 7.6e8
    candidates through a handful of mega-hot elements (guard-skipped as
    a single-reducer hazard); this plan computes the identical exact
    answer — it is how SCALE20_SJ_BUDGET's "uncapped truth" row is
    produced at scales where the naive plan cannot run. Prefer the
    budgeted :func:`set_jaccard_pairs` when a hard work bound matters
    more than exactness; prefer this form over ``max_element_freq=None``
    always."""
    elems, sizes = _set_postings(df, set_col, id_col)
    return _prefix_exact_pairs(elems, sizes, threshold, naive_volume_limit)


def _set_postings(
    df: DataFrame, set_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(element postings ``(__id, __g)``, sizes ``(__id, __size)``) of a
    set-valued column, shared by both set-Jaccard joins: distinct non-NULL
    elements per row, each keyed by the md5 of its raw bytes (BINARY
    elements) or of its canonical string form (everything else)."""
    from pyspark.sql.types import ArrayType, BinaryType

    st = df.schema[set_col].dataType
    is_binary = isinstance(st, ArrayType) and isinstance(
        st.elementType, BinaryType
    )
    e = F.col("__e")
    key = F.md5(e if is_binary else e.cast("string").cast("binary"))
    elems = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode_outer(F.array_distinct(F.col(set_col))).alias("__e"),
        )
        .filter(F.col("__e").isNotNull())
        .select("__id", key.alias("__g"))
    )
    sizes = elems.groupBy("__id").agg(F.count(F.lit(1)).alias("__size"))
    return elems, sizes


def _prefix_exact_pairs(
    elems: DataFrame,
    sizes: DataFrame,
    threshold: float,
    naive_volume_limit: float = 2e8,
) -> DataFrame:
    """The shared EXACT-join engine behind :func:`set_jaccard_pairs_exact`
    (arbitrary element sets) and :func:`jaccard_pairs_exact`
    (token-shingle sets). ``elems`` is a (``__id``, ``__g``) postings
    frame with DISTINCT elements per id; ``sizes`` is (``__id``,
    ``__size``) with the matching set sizes. Persists ``elems``.

    COST-BASED strategy pick, the AQE instinct applied to an algorithm
    choice (both branches are exact — this chooses constants, never
    semantics): one cheap aggregate measures the uncapped candidate
    volume Σ df², and

    - **Σdf² ≤ naive_volume_limit** → the plain inverted-index
      self-join + aggregate (:func:`_jaccard_from_postings`). One join
      pass with map-side partial aggregation and no candidate
      materialization — measured ~1.7× faster than prefix+verify at
      sf0.1 (34.5 s vs 59.6 s on the 20× sweep fixture's base scale),
      because on a small dense vocabulary almost every pair co-occurs
      anyway and the prefix pipeline pays distinct+verify on ~10M
      candidates for 23k true pairs.
    - **Σdf² > naive_volume_limit** → prefix filtering (AllPairs,
      Bayardo et al. WWW'07) with the PPJoin positional refinement,
      verified by a JVM-side ``array_intersect`` over per-doc element
      arrays. The naive join above this volume is the single-reducer
      hazard the 20× sweep guard-skips at 7.6e8 candidates; the prefix
      plan computed that fixture's exact truth in 155 s.

    Positional filter correctness: a qualifying pair (overlap o ≥
    α(A,B) = ⌈t/(1+t)·(|A|+|B|)⌉) always admits its FIRST shared
    element in the global order — every other shared element sits at
    later positions in both sets, so o ≤ 1 + min(|A|−pa, |B|−pb) at
    that match; requiring the bound on SOME match is therefore safe,
    and it prunes ~30% of the candidate stream before verification on
    the measured fixture."""
    from pyspark.sql import Window

    elems = elems.persist()
    freq = elems.groupBy("__g").agg(F.count(F.lit(1)).alias("__f"))
    # rounded-output filter admits true J ≥ threshold − 5e-5 → derive
    # all pruning bounds from that effective threshold
    t = max(threshold - 5e-5, 0.0)
    if naive_volume_limit > 0:
        # cost probe only when the dispatch can actually go naive — a
        # pinned prefix branch (limit ≤ 0) skips the driver action
        vol = (
            freq.agg(
                F.sum(F.col("__f").cast("double") * F.col("__f")).alias("v")
            ).first()["v"]
            or 0.0
        )
        if vol <= naive_volume_limit:
            return _jaccard_from_postings(sizes, elems, threshold)
    # Integer element surrogates (r12, guide §2.3 "narrower types"): every
    # downstream consumer — the prefix window's tie-break, the candidate
    # self-join key, and the verify array_intersect — only needs element
    # EQUALITY plus some shared total order, never the md5 text. A 32-char
    # md5 string costs ~10× a long to hash in every hash join / hash set
    # probe (measured: the verify stage dominated the whole query). Any
    # per-run injective map works; monotonically_increasing_id over the
    # vocabulary is injective by construction, and the localCheckpoint pins
    # ONE materialization so every consumer sees the same ids (and gives
    # the planner exact size stats). Vocabulary-sized, not corpus-sized.
    vocab = freq.withColumn(
        "__gi", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    ie = elems.join(vocab, "__g").select("__id", "__gi", "__f")
    need = F.ceil(F.lit(t) * F.col("__size") - F.lit(1e-9))
    # PPJoin indexing prefix (r13): order candidate roles by (size, id)
    # instead of bare id, so the SMALLER set of every pair plays side
    # ``a``. A qualifying pair (J ≥ t, |A| ≤ |B|) has overlap o ≥
    # ⌈t/(1+t)·(|A|+|B|)⌉ ≥ ⌈2t/(1+t)·|A|⌉, so its globally-smallest
    # shared element sits within the first |A| − ⌈2t/(1+t)·|A|⌉ + 1
    # positions of A — a strictly SHORTER prefix than the probing bound
    # |s| − ⌈t·|s|⌉ + 1, which side ``b`` keeps (o ≥ t·|B| needs
    # |A| ≥ t·|B|, exactly the length-compat filter below). At t=0.5 the
    # short prefix is ~1/3 of the set vs ~1/2, cutting candidate volume
    # Σ df_short·df_long by ~a third with zero semantic change.
    need_short = F.ceil(
        F.lit(2.0 * t / (1.0 + t)) * F.col("__size") - F.lit(1e-9)
    )
    prefix = (
        ie.join(sizes, "__id")
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__id").orderBy("__f", "__gi")
            ),
        )
        .filter(F.col("__r") <= F.col("__size") - need + F.lit(1))
        # df=1 elements can never match across two docs — they only
        # inflate the self-join's shuffle/sort input (they are the
        # rarest elements, i.e. the FRONT of every prefix). Lossless.
        .filter(F.col("__f") >= 2)
        .withColumn(
            "__short",
            F.col("__r") <= F.col("__size") - need_short + F.lit(1),
        )
        .select("__id", "__gi", "__size", "__r", "__short")
        # persisted: the candidate self-join reads it twice
        .persist()
    )
    a, b = prefix.filter(F.col("__short")).alias("a"), prefix.alias("b")
    alpha = F.ceil(
        F.lit(t / (1.0 + t))
        * (F.col("a.__size") + F.col("b.__size"))
        - F.lit(1e-9)
    )
    # NO pre-verify distinct/aggregate: a pair sharing k prefix elements
    # is verified k times, which measures CHEAPER than consolidating the
    # match stream — the verify joins broadcast the (vocabulary-bounded)
    # array frame, so duplicate candidates never cross an exchange, while
    # a pair-level groupBy shuffles the whole match stream once (the
    # accumulated PPJoin filter c + min(|A|−pa_max, |B|−pb_max) was
    # implemented and A/B-measured in r13: 20× replica fixture wall
    # 171 s → 254 s — rejected; recorded in CHANGES.md). Survivors of
    # the threshold filter (≈ true pairs) are deduplicated at the end.
    cand = a.join(
        b,
        (F.col("a.__gi") == F.col("b.__gi"))
        & (
            (F.col("a.__size") < F.col("b.__size"))
            | (
                (F.col("a.__size") == F.col("b.__size"))
                & (F.col("a.__id") < F.col("b.__id"))
            )
        )
        & (F.col("a.__size") >= t * F.col("b.__size") - 1e-9)
        & (
            F.lit(1)
            + F.least(
                F.col("a.__size") - F.col("a.__r"),
                F.col("b.__size") - F.col("b.__r"),
            )
            >= alpha
        ),
    ).select(
        # canonical id order for the output contract (roles were
        # size-ordered above)
        F.least(F.col("a.__id"), F.col("b.__id")).alias("id_a"),
        F.greatest(F.col("a.__id"), F.col("b.__id")).alias("id_b"),
    )
    # exact verification: per-doc element arrays built once (one
    # shuffle of the postings), then a JVM-side set intersect per
    # candidate — no candidates×|A| row explosion; long arrays, so the
    # per-candidate hash set is built over 8-byte keys. df=1 elements
    # can never be shared, so the arrays carry only the df≥2 ones —
    # the intersect is unchanged and the collect_list/probe shrink.
    arrs = (
        ie.filter(F.col("__f") >= 2)
        .groupBy("__id")
        .agg(F.collect_list("__gi").alias("__arr"))
    )
    shared = (
        cand.join(
            arrs.select(
                F.col("__id").alias("id_a"), F.col("__arr").alias("__aa")
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("__id").alias("id_b"), F.col("__arr").alias("__ab")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__aa", "__ab")).alias("__shared"),
        )
    )
    return _jaccard_ratio_tail(shared, sizes, threshold).dropDuplicates(
        ["id_a", "id_b"]
    )


def jaccard_pairs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    naive_volume_limit: float = 2e8,
) -> DataFrame:
    """EXACT n-gram Jaccard join — :func:`jaccard_pairs` with
    ``max_shingle_freq=None`` semantics (every true pair, no lower-bound
    scores through dropped stop-shingles) at prefix-filtered cost: the
    same AllPairs plan as :func:`set_jaccard_pairs_exact`, over the
    document's distinct token n-gram shingles. Hot shingles ("of the
    and"-grade) enter candidate generation only for documents in which
    they are among the RAREST |s|−⌈t·|s|⌉+1 shingles, so the join never
    degenerates to the uncapped Σ df(shingle)² — use this instead of
    ``max_shingle_freq=None`` when exactness on stop-phrase-heavy
    overlaps matters; keep the capped default when a bounded-work lower
    bound is acceptable. Docs shorter than ``n`` tokens have no shingles
    and produce no pairs (same as :func:`jaccard_pairs`)."""
    sizes, postings = _pair_shingle_stats(df, text_col, id_col, n, None)
    return _prefix_exact_pairs(postings, sizes, threshold, naive_volume_limit)


def count_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_token_freq: int | str | None = 1000,
) -> DataFrame:
    """Sparse count-vector cosine similarity join: all (id_a < id_b)
    pairs whose token-count vectors have cosine ≥ ``threshold``. The
    bag-of-words complement to :func:`jaccard_pairs` (which ignores
    term frequency) and to dense-embedding cosine (which needs a model):
    repetition-heavy near-duplicates that shingle sets miss score high
    here.

    INTEGER-EXACT by construction: the output carries ``dot`` (Σ ca·cb),
    ``norm_sq_a`` and ``norm_sq_b`` (Σ c²) as exact longs — cosine is
    ``dot / sqrt(na2 · nb2)``, left to the consumer — and the threshold
    test compares ``dot² ≥ t² · (na2 · nb2)`` with one fixed expression
    shape, so any engine replays the filter bit-for-bit (exact longs
    widen exactly to doubles; identical IEEE multiply order).

    ``max_token_freq`` drops tokens whose DOCUMENT frequency exceeds the
    cap before anything else — the same O(freq²) inverted-index guard as
    :func:`jaccard_pairs`, but here the capped tokens leave the vector
    space entirely (dot AND norms), so reported cosine stays internally
    consistent on the reduced vocabulary rather than being a lower
    bound.

    Scale: one explode + hash aggregate to (doc, token, count); hot-token
    anti-join (broadcast, vocabulary-sized); the pair space is
    Σ df(token)² over surviving tokens — capped; one shuffle groups the
    pair partial dots (map-side combined). No UDF, no driver state.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = exploded_tokens(df, text_col, id_col, "__id", "__tok")
    counts = toks.groupBy("__id", "__tok").agg(F.count(F.lit(1)).alias("__c"))
    if max_token_freq is not None:
        freq = counts.groupBy("__tok").agg(F.count(F.lit(1)).alias("__f"))
        freq, cap = _resolve_freq_cap(freq, max_token_freq)
        counts = counts.join(
            F.broadcast(freq.filter(F.col("__f") > cap)),
            on="__tok",
            how="left_anti",
        )
    # persist: the counts frame feeds the norm aggregate AND both sides
    # of the pair join (same shared-intermediate contract as the shingle
    # frames above; released by the session's cache clear)
    counts = counts.persist()
    norms = counts.groupBy("__id").agg(
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__n2")
    )
    a, b = counts.alias("a"), counts.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.__tok") == F.col("b.__tok"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.sum(F.col("a.__c") * F.col("b.__c")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("__id").alias("id_a"), F.col("__n2").alias("norm_sq_a"))
    nb = norms.select(F.col("__id").alias("id_b"), F.col("__n2").alias("norm_sq_b"))
    t2 = float(threshold) * float(threshold)
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            F.col("dot").cast("double") * F.col("dot").cast("double")
            >= F.lit(t2)
            * (
                F.col("norm_sq_a").cast("double")
                * F.col("norm_sq_b").cast("double")
            )
        )
        .select("id_a", "id_b", "dot", "norm_sq_a", "norm_sq_b")
    )


def _span_postings(
    df: DataFrame,
    width: int,
    text_col: str,
    id_col: str,
    max_span_freq: int | str | None,
) -> DataFrame:
    """(doc id, 1-based start position, md5 span hash) postings for every
    width-token gram — one posting per (doc, span): the FIRST in-doc
    occurrence (bounds internally repetitive text), with hot spans above
    the doc-frequency cap anti-joined away before any pair join. Shared
    by :func:`duplicate_span_pairs` and :func:`remove_duplicate_spans`."""
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    from mini_etl_spark.functions.text import ngrams_from_tokens

    toks = df.withColumn("__toks", tokens(text_col))
    spans = toks.select(
        F.col(id_col).alias("__id"),
        F.posexplode(ngrams_from_tokens(F.col("__toks"), width)).alias(
            "__p0", "__g"
        ),
    ).select(
        "__id",
        (F.col("__p0") + 1).alias("__pos"),
        F.md5(F.col("__g").cast("binary")).alias("__h"),
    )
    spans = spans.groupBy("__id", "__h").agg(F.min("__pos").alias("__pos"))
    # Document-frequency filter BEFORE the pair self-join (guide §2.3/§2.4).
    # Both consumers feed ``spans`` only into an id_a < id_b self-join on
    # __h, so a span occurring in exactly ONE document can never produce a
    # pair — dropping df=1 spans is lossless, and in a mostly-unique corpus
    # they are the overwhelming majority of postings. The filter is an
    # INNER join against the [2, cap] frequency band (the old plan
    # broadcast-anti-joined only the hot tail); joining on __h leaves the
    # survivors hash-partitioned by __h, which is exactly the partitioning
    # the candidate self-join needs — the exchange is paid once here
    # instead of once per join side.
    freq = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__f"))
    if max_span_freq is not None:
        freq, cap = _resolve_freq_cap(freq, max_span_freq)
        band = freq.filter((F.col("__f") >= 2) & (F.col("__f") <= cap))
    else:
        band = freq.filter(F.col("__f") >= 2)
    return spans.join(band.select("__h"), "__h")


def duplicate_span_pairs(
    df: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_span_freq: int | str | None = 1000,
    min_spans: int = 1,
) -> DataFrame:
    """Exact duplicate token-span detection between documents — the
    substring-dedup family (find passages copied verbatim across a
    corpus, the signal behind suffix-array training-data dedup). For
    every document pair sharing at least ``min_spans`` identical
    ``width``-token spans, returns ``(id_a, id_b, n_spans,
    longest_run)`` where ``n_spans`` counts the distinct shared spans
    and ``longest_run`` is the longest contiguous shared token run
    implied by consecutively aligned spans (a run of r chained spans
    covers r + width - 1 tokens).

    Mechanics: positions are attached to every width-gram
    (posexplode of :func:`~mini_etl_spark.functions.text.ngrams_from_tokens`),
    hashed to md5 so only 32-byte keys shuffle; one posting per
    (doc, span) — the FIRST in-doc occurrence — bounds internally
    repetitive text; a doc-frequency cap drops boilerplate spans before
    the inverted-index self-join (same O(freq²) guard as
    :func:`jaccard_pairs`). Aligned runs fall on a common diagonal
    (pos_a − pos_b); contiguity within a diagonal is the classic
    gaps-and-islands grouping (pos − row_number), so the whole operator
    is joins + windows — no UDF, no per-pair rescan of the text.

    Scale: candidate volume is Σ freq² over surviving spans (capped);
    the diagonal window shuffles candidates once on (pair, diagonal).
    In-doc repeats count once, so a span repeated r times in one doc
    contributes one posting, not r.
    """
    from pyspark.sql import Window

    spans = _span_postings(df, width, text_col, id_col, max_span_freq)
    spans = spans.persist()
    a = spans.select(
        "__h", F.col("__id").alias("id_a"), F.col("__pos").alias("__pa")
    )
    b = spans.select(
        "__h", F.col("__id").alias("id_b"), F.col("__pos").alias("__pb")
    )
    cand = a.join(b, "__h").filter(F.col("id_a") < F.col("id_b"))
    w_run = Window.partitionBy("id_a", "id_b", "__diag").orderBy("__pa")
    runs = cand.select(
        "id_a", "id_b", (F.col("__pa") - F.col("__pb")).alias("__diag"), "__pa"
    ).withColumn("__island", F.col("__pa") - F.row_number().over(w_run))
    islands = runs.groupBy("id_a", "id_b", "__diag", "__island").agg(
        F.count(F.lit(1)).alias("__sz")
    )
    return (
        islands.groupBy("id_a", "id_b")
        .agg(
            F.sum("__sz").alias("n_spans"),
            (F.max("__sz") + F.lit(width - 1)).alias("longest_run"),
        )
        .filter(F.col("n_spans") >= F.lit(min_spans))
    )


def remove_duplicate_spans(
    df: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_span_freq: int | str | None = 1000,
    min_run: int | None = None,
) -> DataFrame:
    """Exact substring dedup, the *action*: cut every cross-document
    duplicated passage out of the LATER document (larger id), keeping the
    earliest occurrence in the corpus intact — the span-removal variant
    of suffix-array training-data dedup (duplicated text is excised, the
    documents themselves survive).

    A passage is a maximal aligned island of chained ``width``-token
    spans (same diagonal mechanics as :func:`duplicate_span_pairs`)
    covering at least ``min_run`` tokens (default ``width``). The victim
    doc's covered token range [start, end] is dropped; overlapping
    ranges from different partners compose naturally (a token goes if
    ANY range covers it). Returns every input row plus:

    - ``clean_text`` — the surviving tokens, space-joined. NOTE: the
      rebuild is over *canonical* tokens (lowercased alphanumeric, the
      same contract every dedup operator here uses), so original casing/
      punctuation/whitespace are not preserved — this operator belongs
      after canonicalization in a corpus pipeline.
    - ``n_removed_tokens`` — how many tokens were cut (0 for untouched
      docs).

    In-doc repeats of a span count once (first occurrence), so a passage
    duplicated twice WITHIN one victim doc is only excised at its first
    position. Scale: postings are the same bounded inverted index as the
    pair detector; ranges per doc are tiny structs (collect_list over
    islands, one shuffle on the victim id); the rebuild is a pure JVM
    index-aware ``filter`` — no UDF touches the text.
    """
    if min_run is None:
        min_run = width
    if min_run < width:
        raise ValueError(f"min_run must be >= width ({width}), got {min_run}")
    from pyspark.sql import Window

    spans = _span_postings(df, width, text_col, id_col, max_span_freq)
    spans = spans.persist()
    a = spans.select(
        "__h", F.col("__id").alias("id_a"), F.col("__pos").alias("__pa")
    )
    b = spans.select(
        "__h", F.col("__id").alias("id_b"), F.col("__pos").alias("__pb")
    )
    cand = a.join(b, "__h").filter(F.col("id_a") < F.col("id_b"))
    w_run = Window.partitionBy("id_a", "id_b", "__diag").orderBy("__pb")
    runs = cand.select(
        "id_a", "id_b", (F.col("__pa") - F.col("__pb")).alias("__diag"), "__pb"
    ).withColumn("__island", F.col("__pb") - F.row_number().over(w_run))
    ranges = (
        # id_a MUST key the island aggregation: island values (__pb −
        # row_number within a partner's diagonal) are only meaningful per
        # partner — two partners' islands on the same victim diagonal can
        # collide numerically, and merging them would excise tokens
        # between their runs that nobody actually shares (regression test
        # covers the collision shape)
        runs.groupBy("id_a", "id_b", "__diag", "__island")
        .agg(
            F.min("__pb").cast("long").alias("__s"),
            (F.max("__pb") + F.lit(width - 1)).cast("long").alias("__e"),
        )
        .filter(F.col("__e") - F.col("__s") + 1 >= F.lit(min_run))
        .groupBy("id_b")
        .agg(
            F.collect_set(F.struct(F.col("__s").alias("s"), F.col("__e").alias("e"))).alias(
                "__ranges"
            )
        )
    )
    out = df.join(
        ranges, df[id_col] == ranges["id_b"], "left"
    ).drop("id_b")
    raw_rng = F.coalesce(
        F.col("__ranges"),
        F.array().cast("array<struct<s:long,e:long>>"),
    )
    # Pre-merge overlapping/adjacent ranges into disjoint sorted
    # intervals (array_sort orders struct<s,e> by s then e; the stack
    # merge extends the last interval when the next one starts at or
    # before last.e + 1 — integer token positions make adjacent ranges
    # contiguous coverage, so the union of points is unchanged). The
    # per-token exists() then scans disjoint intervals only, bounding
    # the O(tokens × ranges) inner factor when many partners report
    # overlapping passages on one victim (VERDICT r4 #8). All JVM-side.
    empty = F.array().cast("array<struct<s:long,e:long>>")
    rng = F.aggregate(
        F.array_sort(raw_rng),
        empty,
        lambda acc, r: F.when(F.size(acc) == 0, F.array(r)).otherwise(
            F.when(
                r["s"] <= F.element_at(acc, -1)["e"] + 1,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], r["e"]
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(F.concat(acc, F.array(r)))
        ),
    )
    # materialize tokens and the filtered survivors ONCE — referencing the
    # raw tokens(text) expression from clean_text, size(toks) and
    # size(kept) would re-run the regex tokenizer per reference (the
    # CollapseProject re-inlining measured 5× on the simhash stage)
    out = out.withColumn("__rng", rng)
    out = out.withColumn("__toks", tokens(text_col)).withColumn(
        "__kept",
        F.filter(
            F.col("__toks"),
            lambda x, i: ~F.exists(
                F.col("__rng"), lambda r: (i + 1 >= r["s"]) & (i + 1 <= r["e"])
            ),
        ),
    )
    return (
        out.withColumn("clean_text", F.concat_ws(" ", F.col("__kept")))
        .withColumn(
            "n_removed_tokens",
            (F.size("__toks") - F.size("__kept")).cast("long"),
        )
        .drop("__ranges", "__rng", "__toks", "__kept")
    )


def contamination_pairs(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | str | None = 1000,
) -> DataFrame:
    """Train/test n-gram contamination scan: for each TEST document, the
    TRAIN documents whose shared distinct n-grams cover ≥ ``threshold`` of
    the test document's n-grams. Returns (test_id, train_id, overlap).

    The measure is *containment* (|A∩B| / |test|), not Jaccard — the
    standard decontamination criterion: a short eval document quoted
    verbatim inside a long training document scores 1.0 even though its
    Jaccard similarity is tiny. Cost model is identical to
    :func:`jaccard_pairs` — an inverted-index equi join on shingles, never
    the O(|train|·|test|) pair space — with the hot-shingle cap applied to
    the train side (a shingle in > ``max_shingle_freq`` train docs carries
    no evidence of leakage, only join blowup; dropped shingles make the
    reported overlap a lower bound)."""
    tr_sizes, tr_post = _pair_shingle_stats(
        train_df, text_col, id_col, n, max_shingle_freq
    )
    te_sizes, te_post = _pair_shingle_stats(test_df, text_col, id_col, n, None)
    shared = (
        tr_post.alias("a")
        .join(te_post.alias("b"), F.col("a.__g") == F.col("b.__g"))
        .groupBy(
            F.col("b.__id").alias("test_id"), F.col("a.__id").alias("train_id")
        )
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    te_sz = te_sizes.select(
        F.col("__id").alias("test_id"), F.col("__size").alias("__sz")
    )
    return (
        shared.join(te_sz, "test_id")
        .withColumn(
            "overlap",
            F.round(F.col("__shared") / F.col("__sz").cast("double"), 4),
        )
        .filter(F.col("overlap") >= threshold)
        .select("test_id", "train_id", "overlap")
    )


def decontaminate(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | str | None = 1000,
) -> DataFrame:
    """Drop training documents contaminated by eval content: any train doc
    that covers ≥ ``threshold`` of some test doc's n-grams is removed (the
    eval set stays fixed; the training corpus is what gets cleaned). One
    anti join over the :func:`contamination_pairs` result."""
    bad = (
        contamination_pairs(
            train_df, test_df, text_col, id_col, n, threshold, max_shingle_freq
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train_df.join(bad, on=id_col, how="left_anti")


def minhash_signature(col: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: for permutation i, min over shingles of
    xxhash64(shingle, seed=i). Array of ``num_hashes`` longs, all JVM-side
    (aggregate over the shingle array — no explode, no shuffle)."""
    return F.array(
        *[
            F.aggregate(
                col,
                F.lit(2**63 - 1).cast("long"),
                lambda acc, g: F.least(acc, F.xxhash64(g, F.lit(i))),
            )
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    verify: bool = True,
) -> DataFrame:
    """Approximate Jaccard join: MinHash → banded LSH → candidate pairs →
    (optional) exact verification.

    ``num_hashes/bands`` rows per band r gives the S-curve collision
    probability 1-(1-s^r)^b; defaults (64, 16 → r=4) catch s ≥ ~0.5 with
    high recall. With ``verify=True`` the output equals ``jaccard_pairs``
    restricted to LSH candidates — precision 1.0, recall < 1 by the curve.
    """
    if num_hashes % bands != 0:
        raise ValueError("minhash_lsh_pairs: bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    # persisted: consumed by signature banding and twice by verification.
    # NO size>0 filter: empty shingle arrays vanish at the explode anyway,
    # and a filter on the shingle column would defeat the materialization
    # (ProjectCollapse substitutes the full expression into the predicate,
    # doubling the shingle computation — measured 5x at sf0.1).
    docs = _shingled(df, text_col, id_col, n).persist()

    # signatures via explode + one vectorized HashAggregate with num_hashes
    # min() columns — measured ~5× faster than num_hashes aggregate() HOFs
    # over the array (which evaluate interpreted, outside codegen).
    # NOTE: dedup_index.minhash_signatures implements the same kernel over
    # its own (non-shared) shingle scan; the two must stay hash-identical —
    # tests/test_dedup_index.py::test_index_candidates_match_inframe_lsh
    # pins the parity. Not extracted into one helper because this copy
    # reuses the persisted `docs` frame the verify stage also reads.
    exploded = docs.select("__id", F.explode("__sh").alias("__g"))
    sig = exploded.groupBy("__id").agg(
        *[
            F.min(F.xxhash64("__g", F.lit(i))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )

    # band key = hash of the band's slice of the signature
    band_rows = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"__h{b * rows_per_band + r}").cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select("__id", "__band.band", "__band.bucket")

    a, b_ = band_rows.alias("a"), band_rows.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return candidates

    # exact Jaccard verification of candidates only
    sized = docs.select("__id", "__sh", F.size("__sh").alias("__size"))
    verified = (
        candidates.join(
            sized.select(
                F.col("__id").alias("id_a"),
                F.col("__sh").alias("__sh_a"),
                F.col("__size").alias("__sa"),
            ),
            "id_a",
        )
        .join(
            sized.select(
                F.col("__id").alias("id_b"),
                F.col("__sh").alias("__sh_b"),
                F.col("__size").alias("__sb"),
            ),
            "id_b",
        )
        .withColumn("__shared", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared")
                / (F.col("__sa") + F.col("__sb") - F.col("__shared")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def _element_hash64(col: Column | str, hash_fn: str) -> Column:
    """64-bit element hash for signature schemes. ``"xxhash64"`` is the
    fast default (one JVM intrinsic); ``"md5"`` builds the word from two
    32-bit halves of the md5 hex digest — slower, but byte-identical in
    any engine with md5 (DuckDB, Postgres, pandas), which is what makes
    SimHash signatures differentially testable across engines."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5":
        hx = F.md5(col)
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def simhash64(col: Column, text_mode: bool = True, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash over token shingles (or any string array column):
    bit j of the result = sign of Σ over elements of ±1 by the element's
    hash bit j. Near-duplicate documents differ in few bits.

    Pure column expressions: per-bit vote via aggregate over the array,
    assembled with shiftleft/bitwise-or — no UDF, no shuffle.
    """
    arr = col

    def bit_vote(j: int) -> Column:
        # Σ ±1 per element for bit j
        vote = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, g: acc
            + F.when(
                F.shiftright(_element_hash64(g, hash_fn), j).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1),
        )
        return F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    result = F.lit(0).cast("long")
    for j in range(64):
        result = result.bitwiseOR(F.shiftleft(bit_vote(j), j))
    return result


def _simhash_frame(
    df: DataFrame, text_col: str, id_col: str, n: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(``__id``, ``simhash``) — the shared signature stage.

    Computed explode-side: per (doc, shingle) emit ±1 votes for all 64 bits
    in one projection, sum them in one vectorized HashAggregate, then pack
    the sign bits. Same result as the per-row :func:`simhash64` expression
    but ~an order of magnitude faster (64 array-aggregate HOFs evaluate
    interpreted; the explode form stays in codegen). Docs with no shingles
    drop out at the explode."""
    # explode_outer + post-generate null filter, NOT explode: a plain
    # explode makes Catalyst infer `size(__sh) > 0` and push it below the
    # projections, re-inlining the whole tokenize+shingle chain into every
    # element_at — O(tokens × full-retokenize) per doc (measured 5× on
    # this stage). The filter on the generated column cannot sink.
    postings = (
        _shingled(df, text_col, id_col, n)
        .select("__id", F.explode_outer("__sh").alias("__g"))
        .filter(F.col("__g").isNotNull())
    )
    # hash once per posting, vote all 64 bits off the same column
    postings = postings.select("__id", _element_hash64("__g", hash_fn).alias("__h"))
    votes = postings.groupBy("__id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{j}")
            for j in range(64)
        ]
    )
    packed = F.lit(0).cast("long")
    for j in range(64):
        bit = F.when(F.col(f"__v{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = packed.bitwiseOR(F.shiftleft(bit, j))
    return votes.select("__id", packed.alias("simhash"))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Group documents by exact SimHash64 value — the cheapest near-dup
    *key* (catches hamming-distance-0 clusters; :func:`simhash_pairs` is
    the ≤k-bit-tolerance companion). ``hash_fn="md5"`` computes
    engine-portable signatures (bit-identical in DuckDB — the driver's
    differential oracle recomputes them in SQL)."""
    hashed = _simhash_frame(df, text_col, id_col, n, hash_fn).withColumnRenamed(
        "__id", id_col
    )
    return hashed.groupBy("simhash").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs at SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: the 64 bits are split into ``max_hamming + 1``
    chunks — two hashes within hamming k must agree EXACTLY on ≥1 chunk, so
    an equi-join on (chunk index, chunk value) finds every qualifying pair
    (recall 1.0 by construction) while scanning only bucket collisions,
    never the O(N²) pair space. Candidates are then verified with
    ``bit_count(a XOR b) ≤ k``.

    Output: (id_a, id_b, hamming)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("simhash_pairs: max_hamming must be in [0, 63]")
    bands = max_hamming + 1
    sh = _simhash_frame(df, text_col, id_col, n, hash_fn).persist()
    width, extra = divmod(64, bands)
    # band b covers [start, start+w): first `extra` bands get width+1 bits
    starts, s = [], 0
    for b in range(bands):
        w = width + (1 if b < extra else 0)
        starts.append((s, w))
        s += w
    def _chunk(start: int, w: int):
        shifted = F.shiftrightunsigned(F.col("simhash"), start)
        if w >= 64:  # single-band case: the whole word, no mask (1<<64 overflows)
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    # r12 (guide §2.3 "shuffle keys and metadata instead of payloads" —
    # here the 8-byte signature IS the metadata): carry the full simhash
    # through the band rows and verify hamming INSIDE the band self-join,
    # instead of materializing candidates, dedup-shuffling ALL of them and
    # joining back to `sh` twice. The band shuffle grows by one long per
    # row; in exchange the dropDuplicates exchange now carries only the
    # verified true pairs and the two verify joins disappear outright
    # (plan: 2 Exchange for the self-join + 1 tiny pair dedup, vs the same
    # two plus a candidate-wide dedup and two id joins).
    band_rows = sh.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _chunk(start, w).alias("val"))
                    for b, (start, w) in enumerate(starts)
                ]
            )
        ).alias("__b"),
    ).select("__id", "simhash", "__b.band", "__b.val")
    a, b_ = band_rows.alias("a"), band_rows.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (hamming <= F.lit(max_hamming)),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "label",
) -> DataFrame:
    """Resolve a near-duplicate PAIR list into duplicate GROUPS:
    (``node``, ``component``) where component = the minimum node id
    reachable in the undirected pair graph (self included).

    ``algorithm="label"`` (default) — iterative min-label propagation:
    each round, every node takes the min of its own label and its
    neighbors' labels — one equi-join + one hash-aggregate (one shuffle)
    per round, converging in O(graph diameter) rounds with a driver-side
    early exit when no label changes. Near-dup graphs are unions of small
    dense clusters (diameter ≤ ~3), so this runs 2-4 rounds in practice;
    ``max_iter`` bounds adversarial chains. State per round is one
    (node, label) frame — never an edge closure, so memory stays O(V + E)
    at any scale (the transitive-closure oracle the driver checks against
    is O(V·E) and only viable at test size).

    ``algorithm="star"`` — alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    each round rewires every node's strictly-larger (large-star) /
    smaller (small-star) neighbors to its neighborhood minimum,
    converging in O(log n) rounds REGARDLESS of diameter — the
    adversarial-chain-safe mode (a 10⁶-node path costs ~20 rounds, not
    10⁶). Two joins + two aggregates per round over the shrinking edge
    set. Pick it when components may be long and thin (co-citation
    chains, URL redirect graphs); for dense near-dup clusters the
    label mode's cheaper rounds win."""
    if algorithm == "star":
        labels, _ = _star_components(pairs, id_a, id_b, max_iter)
        return labels
    if algorithm != "label":
        raise ValueError(
            f"connected_components: algorithm must be 'label' or 'star', "
            f"got {algorithm!r}"
        )
    # Both edge directions from ONE evaluation of `pairs` (explode, not a
    # two-branch union — the pair list is usually an expensive similarity
    # join, and a union would re-run that plan once per branch).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .persist()
    )
    # Per-round state is localCheckpoint'd (NOT persist'd): the checkpoint
    # cuts the logical plan, so the optimizer re-plans a constant-depth
    # plan each round instead of the whole accumulated join chain (plain
    # persist caches DATA but Catalyst still re-analyzes the full lineage
    # — measured minutes of driver time by round ~15), and checkpoint
    # blocks are ContextCleaner-freed when the frame is GC'd, so neither
    # the rounds nor the RETURNED frame pin executor storage forever the
    # way an unmatched persist() does.
    try:
        labels = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("__nbr_min"))
            .select(
                F.col("src").alias("node"),
                F.least(F.col("src"), F.col("__nbr_min")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges.src == labels.node)
                .groupBy("dst")
                .agg(F.min("label").alias("__nbr_label"))
            )
            # Carry the previous label alongside the new one so the
            # convergence check is a filter over the checkpointed frame —
            # no old-vs-new join, no recompute.
            cand = (
                labels.join(nbr, labels.node == nbr.dst, "left")
                .select(
                    "node",
                    F.col("label").alias("__old"),
                    F.least(
                        F.col("label"), F.coalesce("__nbr_label", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = cand.filter(F.col("label") < F.col("__old")).count()
            labels = cand
            if changed == 0:
                break
        return labels.select(F.col("node"), F.col("label").alias("component"))
    finally:
        edges.unpersist()


def _star_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iter: int,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction. Returns
    ((node, component), rounds_used) — rounds exposed so tests can assert
    the O(log n) bound on adversarial chains.

    Each round:
      large-star: for every node u, attach its strictly-LARGER neighbors
        to m(u) = min(Γ(u) ∪ {u});
      small-star: orient edges large→small, attach every smaller
        neighbor (and u itself) to that minimum.
    Both preserve connectivity and strictly shrink star height; the edge
    set converges to one star per component rooted at its minimum id.
    Per round: two (groupBy-min + join + distinct) passes — three
    shuffles each — over an edge set that only shrinks. Convergence is
    checked on a (count, xor-of-hash) signature of the canonical edge
    set: one tiny aggregate, no edge-set anti-join. XOR (not sum): edges
    are distinct, so xor is an order-independent set fingerprint that
    cannot overflow — a long SUM of random 64-bit hashes would raise
    under ANSI mode."""
    spark = pairs.sparkSession

    def _sig(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # undirected, self-loops dropped, canonical small→large orientation
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # remember every node that appeared — star rounds contract away
    # interior nodes' edges, and the final star lists only (node, root)
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    sig = _sig(edges)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star: both directions; neighbors v > u hook to m(u)
        both = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = both.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("__m")
        )
        ls = (
            both.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.least(F.col("dst"), F.col("__m")).alias("src"),
                F.greatest(F.col("dst"), F.col("__m")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            # consumed twice below (min aggregate + join) — materialize so
            # the large-star pass runs once per round
            .localCheckpoint(eager=True)
        )
        # ---- small-star: orient large→small; every smaller neighbor AND
        # the large endpoint itself hook to the neighborhood min
        oriented = ls.select(
            F.col("dst").alias("big"), F.col("src").alias("small")
        )
        smins = oriented.groupBy("big").agg(F.min("small").alias("__m"))
        ss = (
            oriented.join(smins, "big")
            .select(
                F.col("__m").alias("src"),
                F.col("small").alias("dst"),
                F.col("big").alias("__self"),
            )
        )
        hooked = ss.select("src", "dst").unionByName(
            ss.select("src", F.col("__self").alias("dst")).distinct()
        )
        edges = (
            hooked.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig

    # converged: edges form stars (root = component min) — label members,
    # then every node not listed as a member is its own root
    members = edges.select(
        F.col("dst").alias("node"), F.col("src").alias("component")
    )
    roots = all_nodes.join(
        members.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return members.unionByName(roots), rounds


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_by: str | None = None,
) -> DataFrame:
    """Deduped corpus: keep ONE representative per near-dup component, plus
    every document that appears in no pair.

    Default representative is the min-id member (pure graph information —
    no extra join against the corpus). With ``keep_by`` the representative
    is instead the component member with the HIGHEST value of that corpus
    column (ties broken by lowest id; the tiebreak negates the id, so
    ``keep_by`` requires numeric ids) — "keep the best-quality copy", the
    curation policy real pipelines want: join the component map to
    (id, keep_by) — pruned to two columns — and pick per component with
    one ``max_by`` hash aggregate. Either way the final filter is a
    broadcast-friendly anti-join against the non-representative ids; the
    corpus itself streams once."""
    comp = connected_components(pairs, id_a, id_b)
    if keep_by is None:
        to_drop = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
        return df.join(to_drop, id_col, "left_anti")
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(keep_by).alias("__score")),
        "node",
    )
    winners = scored.groupBy("component").agg(
        F.max_by(
            F.col("node"),
            # negate the id tiebreak: max_by keeps the single max of the
            # (score, -id) struct → highest score, then lowest id
            F.struct(F.col("__score"), (-F.col("node")).alias("__neg_id")),
        ).alias("__keep")
    )
    to_drop = scored.join(winners, "component").filter(
        F.col("node") != F.col("__keep")
    ).select(F.col("node").alias(id_col))
    return df.join(to_drop, id_col, "left_anti")


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-duplicate pairs over an ``array<float>`` column.

    Block-GEMM candidate generation + exact verification. The O(N²) pair
    space is unavoidable for the exact join, but evaluating an interpreted
    ``aggregate(zip_with(...))`` dot product per pair (the pre-r12 plan:
    a broadcast nested loop over row pairs) costs ~16 µs per pair — the
    classic per-row-JVM-expression tax. Instead:

    1. hash the vectors into K = defaultParallelism deterministic blocks
       (``pmod(xxhash64(id), K)`` — guide §2.5's deterministic synthetic
       key), collect each block's (id, vec) rows into one array row;
    2. cross-join the K(K+1)/2 block pairs and compute each block-pair's
       full cosine matrix with one numpy GEMM inside ``mapInArrow``
       (guide §4.2: hand whole batches to vectorized native code; the
       arrays cross the boundary once, zero-copy, as Arrow buffers);
    3. emit (id_a, id_b) candidates at ``threshold − 6e-5`` — the 5e-5
       round-to-4 admission slack plus float-summation-order slop, so no
       pair the exact filter would keep can be missed — and re-score the
       few survivors with the ORIGINAL JVM expression, making the output
       bit-identical to the pre-r12 plan by construction (the GEMM only
       ever decides which pairs are worth scoring exactly).

    Fine up to ~10⁵ vectors (GEMM flops, not per-pair overhead, become
    the bound — and each block row is a whole-block collect_list, so at
    ~10⁶+ vectors a single row would exceed task memory / the 2 GB Arrow
    array ceiling); beyond that use :func:`embedding_cosine_pairs_lsh`
    (bucketed candidates via ``similarity.lsh_pair_candidates``, then the
    same exact verification). That bound is GUARDED, not just prose
    (r13): when the input's optimizer size estimate exceeds
    ``MINI_ETL_EMBED_GEMM_LIMIT_BYTES`` (default 1 GiB ≈ 4M 64-dim
    float32 vectors; <= 0 disables) the operator warns and routes to the
    LSH path — candidates become approximate (hyperplane-LSH recall),
    verification stays exact. The check is driver-side statistics only;
    no job runs, so small inputs pay nothing, and an input of unknown
    size (no statistics) stays on the GEMM path."""
    import os
    import warnings

    import pyarrow as pa_mod

    from mini_etl_spark.functions.similarity import _cosine_admit

    limit = int(
        os.environ.get("MINI_ETL_EMBED_GEMM_LIMIT_BYTES", 1024**3)
    )
    if limit > 0:
        est = estimated_bytes(df)
        if est is not None and est > limit:
            warnings.warn(
                f"embedding_cosine_pairs: input's estimated size ({est} "
                f"bytes) exceeds the all-pairs block-GEMM guard ({limit} "
                "bytes) — whole-block rows would not fit a task. Routing "
                "to embedding_cosine_pairs_lsh (LSH candidates, exact "
                "verification; recall follows the LSH S-curve). Call the "
                "LSH variant directly to tune its parameters, or raise "
                "MINI_ETL_EMBED_GEMM_LIMIT_BYTES if the corpus truly "
                "fits.",
                stacklevel=2,
            )
            return embedding_cosine_pairs_lsh(
                df, vec_col=vec_col, id_col=id_col, threshold=threshold
            )

    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm.alias("__n"),
    )
    sc = df.sparkSession.sparkContext
    K = sc.defaultParallelism
    blocks = (
        base.withColumn("__blk", F.pmod(F.xxhash64("__id"), F.lit(K)).cast("int"))
        .groupBy("__blk")
        # one collect_list of structs, THEN unzip: ids/vecs stay aligned by
        # construction (separate collect_list aggs guarantee no shared order)
        .agg(F.collect_list(F.struct("__id", "__v")).alias("__rows"))
        .select(
            "__blk",
            F.expr("transform(__rows, r -> r.__id)").alias("__ids"),
            F.expr("transform(__rows, r -> r.__v)").alias("__vs"),
        )
    )
    a = blocks.select(
        F.col("__blk").alias("__ba"),
        F.col("__ids").alias("__ia"),
        F.col("__vs").alias("__va"),
    )
    b = blocks.select(
        F.col("__blk").alias("__bb"),
        F.col("__ids").alias("__ib"),
        F.col("__vs").alias("__vb"),
    )
    # K(K+1)/2 block-pair rows; round-robin spread so the GEMM tasks use
    # the whole cluster (the groupBy leaves blocks on few AQE-coalesced
    # partitions)
    crossed = a.join(b, F.col("__ba") <= F.col("__bb")).repartition(K)
    thr = threshold - 6e-5

    def _cell(ids_col, vs_col, i):
        """One block: (ids int64, {dim: (ids subset, float64 matrix)}).
        Vectors are grouped by length — pairs of unequal length can never
        pass the exact filter (zip_with pads with null → null cosine), so
        only equal-length groups are compared. Null vectors are skipped
        (their exact cosine is NULL); null or NaN elements make a NaN
        row, which :func:`_cosine_admit` admits for the exact rescore to
        decide (NULL cosine dropped, NaN cosine kept)."""
        ids = ids_col[i].values.to_numpy(zero_copy_only=False)
        inner = vs_col[i].values
        lens_arr = inner.value_lengths()
        if lens_arr.null_count:
            lens = np.asarray(
                lens_arr.fill_null(-1).to_numpy(zero_copy_only=False),
                dtype="int64",
            )
        else:
            lens = lens_arr.to_numpy().astype("int64")
        flat = inner.flatten().to_numpy(zero_copy_only=False).astype("float64")
        offs = np.zeros(len(lens) + 1, dtype="int64")
        np.cumsum(np.where(lens < 0, 0, lens), out=offs[1:])
        out = {}
        for L in np.unique(lens):
            if L <= 0:
                continue
            idx = np.nonzero(lens == L)[0]
            M = np.empty((len(idx), L), dtype="float64")
            for j, r in enumerate(idx):
                M[j] = flat[offs[r] : offs[r] + L]
            out[int(L)] = (ids[idx], M)
        return out

    def _gemm(batches):
        for batch in batches:
            ba = batch.column("__ba")
            bb = batch.column("__bb")
            ia_c = batch.column("__ia")
            va_c = batch.column("__va")
            ib_c = batch.column("__ib")
            vb_c = batch.column("__vb")
            outs_a, outs_b = [], []
            for i in range(batch.num_rows):
                same = ba[i].as_py() == bb[i].as_py()
                ca = _cell(ia_c, va_c, i)
                cb = ca if same else _cell(ib_c, vb_c, i)
                for L, (ia, A) in ca.items():
                    got = cb.get(L)
                    if got is None:
                        continue
                    ib, B = got
                    na = np.linalg.norm(A, axis=1)
                    nb = na if same else np.linalg.norm(B, axis=1)
                    mask = _cosine_admit(A, B, na, nb, thr)
                    if same:
                        # diagonal block: the matrix holds both orientations
                        mask &= ia[:, None] < ib[None, :]
                    xi, yi = np.nonzero(mask)
                    pa_ids, pb_ids = ia[xi], ib[yi]
                    # off-diagonal: each unordered pair appears exactly once;
                    # orient by id, never by block
                    outs_a.append(np.minimum(pa_ids, pb_ids))
                    outs_b.append(np.maximum(pa_ids, pb_ids))
            if outs_a:
                oa = np.concatenate(outs_a)
                ob = np.concatenate(outs_b)
            else:
                oa, ob = [], []
            yield pa_mod.RecordBatch.from_arrays(
                [pa_mod.array(oa, type=id_pa_type), pa_mod.array(ob, type=id_pa_type)],
                ["id_a", "id_b"],
            )

    from pyspark.sql.pandas.types import to_arrow_type

    id_dt = df.schema[id_col].dataType
    id_pa_type = to_arrow_type(id_dt)
    cand = crossed.mapInArrow(
        _gemm, f"id_a {id_dt.simpleString()}, id_b {id_dt.simpleString()}"
    )
    # exact verification with the pre-r12 expression — bit-identical output
    dot = F.aggregate(
        F.zip_with(
            F.col("__va"), F.col("__vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(
            base.select(
                F.col("__id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            base.select(
                F.col("__id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .withColumn("cosine", F.round(dot / (F.col("__na") * F.col("__nb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs AT SCALE: banded hyperplane-LSH candidate
    generation (equi-join on bucket tags — ``similarity.lsh_pair_candidates``)
    followed by exact cosine verification of candidates only. Mirrors
    ``minhash_lsh_pairs``'s candidates→verify structure; precision is 1.0 by
    construction, recall follows the (num_planes, num_tables) S-curve.

    Output schema equals :func:`embedding_cosine_pairs` — (id_a, id_b,
    cosine rounded to 4) — restricted to LSH candidates. Every join here is
    an equi-join (no nested-loop, no cartesian); the per-candidate cosine is
    one Arrow-batched numpy pass (same vectorization rationale as the
    bucket matmul — an interpreted zip_with/aggregate dot was the measured
    bottleneck at 10⁵ candidates)."""
    from mini_etl_spark.functions.similarity import lsh_pair_candidates

    candidates = lsh_pair_candidates(
        df, vec_col, id_col, num_planes=num_planes, num_tables=num_tables,
        seed=seed, dim=dim, multiprobe=multiprobe,
    )
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    @pandas_udf("double")
    def _cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype("float64")
        B = np.stack(b.to_numpy()).astype("float64")
        dots = (A * B).sum(axis=1)
        norms = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(dots / norms)

    return (
        candidates.join(
            base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")),
            "id_a",
        )
        .join(
            base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")),
            "id_b",
        )
        .withColumn("cosine", F.round(_cosine("__va", "__vb"), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
