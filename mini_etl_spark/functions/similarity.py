"""Similarity search over embedding columns.

Two tiers, as a scale story:

- ``cosine_topk`` — exact brute-force top-k: one JVM-side dot-product
  expression per row + ``orderBy(...).limit(k)``, which Catalyst executes as
  TakeOrderedAndProject (per-partition heap, no global sort). Linear scan —
  the correctness baseline and perfectly serviceable for one-off queries
  even at large N (it's a single pass).
- ``lsh_bucket_candidates`` / ``lsh_topk`` — random-hyperplane LSH: sign
  bits of ``num_planes`` fixed random projections form a bucket key; probing
  the query's bucket (plus optional multi-probe neighbors at hamming
  distance 1) reduces the scan to a bucket's worth of vectors. The scale
  path for repeated queries: bucket assignment is a one-time columnar pass,
  and the per-query scan touches ~N/2^planes rows.

Hyperplanes are generated from a seeded NumPy RNG on the driver (tiny:
planes × dim floats) and fully deterministic. Per-vector projections run as
ONE Arrow-batched matmul per partition (vectorized ``pandas_udf`` — the
sanctioned UDF case: a dense linear-algebra kernel; the pure-JVM explode
forms were measured 3-8× slower and multiply shuffled rows by ``dim``).
Query-side dots (k centroids, one query) stay as JVM column expressions.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mini_etl_spark.statefile import _read_state, _write_state


def _dlit(v: float) -> str:
    """Exact SQL double literal: Python repr round-trips IEEE-754 and
    Double.parseDouble of that shortest form yields the identical bits,
    so rendering through SQL text changes nothing numerically."""
    return repr(float(v)) + "D"


def _lit_darray(values: Sequence[float]) -> Column:
    """array<double> literal built by ONE JVM-side SQL parse.

    Building literal arrays element-by-element (``F.array(*[F.lit(x)
    ...])``) costs one py4j round-trip per element — a 64-dim centroid is
    ~70 driver calls, and operators that fold k centroids into the plan
    (IVF assign/probe, PQ codes/LUTs) were spending 5+ SECONDS of pure
    driver time per invocation before any job ran. One ``F.expr`` parse
    of the rendered array is a single round-trip regardless of length."""
    return F.expr("array(" + ",".join(_dlit(v) for v in values) + ")")


def _dot_sql(vec: str, values: Sequence[float]) -> str:
    """<vec, literal> rendered as SQL text — identical semantics to
    :func:`_dot` (same zip_with/aggregate shape, same accumulation order),
    but the whole dot product is one substring of one parsed expression.
    Operators folding k centroids into a plan compose k of these into a
    single ``F.expr`` — one driver round-trip instead of k×dim."""
    arr = "array(" + ",".join(_dlit(v) for v in values) + ")"
    return (
        f"aggregate(zip_with({vec}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _dot(vec_col: Column, literal: Sequence[float]) -> Column:
    """<vec, literal> as a JVM expression: zip_with + aggregate."""
    lit_arr = _lit_darray(literal)
    return F.aggregate(
        F.zip_with(vec_col, lit_arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``. Deterministic
    tie-break on id. Output: (id, cosine) — cosine rounded to 4."""
    q = np.asarray(query, dtype="float64")
    qnorm = float(np.sqrt((q * q).sum()))
    if qnorm == 0:
        raise ValueError("cosine_topk: zero query vector")
    cos = F.round(_dot(F.col(vec_col), q.tolist()) / (_norm(F.col(vec_col)) * F.lit(qnorm)), 4)
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def random_hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes, unit-normalized rows."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))
    return planes / np.linalg.norm(planes, axis=1, keepdims=True)


def lsh_bucket(vec_col: Column, planes: np.ndarray) -> Column:
    """Bucket id = sign bits of the projections, packed into a long — the
    pure-column-expression form (interpreted HOF dots; fine for a handful of
    planes on modest data, but :func:`with_lsh_buckets` uses the vectorized
    matmul path, measured much faster)."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        bit = F.when(_dot(vec_col, plane.tolist()) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, j))
    return bucket


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach the LSH bucket column (one columnar pass, zero shuffles;
    persist/write the result once, query it many times). ``dim`` is read
    from the first row only if not given — pass it explicitly in
    production. Buckets come from one Arrow-batched matmul per partition
    (same sign-bit packing as :func:`lsh_bucket`, same seeded planes)."""
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("with_lsh_buckets: empty DataFrame and no dim given")
        dim = first["d"]
    planes = random_hyperplanes(dim, num_planes, seed)

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype("float64")
        bits = (X @ planes.T >= 0).astype("int64")
        weights = 1 << np.arange(planes.shape[0], dtype="int64")
        return pd.Series((bits * weights).sum(axis=1))

    return df.withColumn("lsh_bucket", _bucket(F.col(vec_col)))


def _table_planes(dim: int, num_planes: int, num_tables: int, seed: int) -> np.ndarray:
    """num_tables independent hyperplane sets from ONE seeded draw —
    shape (num_tables, num_planes, dim)."""
    return random_hyperplanes(dim, num_planes * num_tables, seed).reshape(
        num_tables, num_planes, dim
    )


def tagged_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    dim: int,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(``__id``, ``__tag``) rows — one tag per (hash table, bucket): the
    banded form of hyperplane LSH used for PAIR generation (many independent
    tables raise recall the way MinHash bands do; multiprobe is the
    query-side analogue).

    All ``num_tables × num_planes`` projections are ONE Arrow-batched
    matmul per partition (``pandas_udf``: batch × dim @ dim × planes) —
    ZERO shuffles, and the measured fast path: at sf0.1 the pure-JVM
    alternatives cost 8.4 s (posexplode + 64 ``element_at``-on-literal sum
    columns) or 4.6 s (posexplode + broadcast plane-matrix join + 64-column
    HashAggregate, dominated by codegen of the wide agg) vs 2.6 s cold /
    sub-second steady for the matmul — and both explode forms multiply the
    shuffled row count by ``dim``, which is the wrong trade at any scale.
    This is the sanctioned Pandas-UDF case: a dense linear-algebra kernel
    the relational operators can't express efficiently.

    Tag = bucket * num_tables + table (buckets < 2^num_planes, so tags
    never collide across tables)."""
    flat = _table_planes(dim, num_planes, num_tables, seed).reshape(
        num_tables * num_planes, dim
    )
    n_tables, n_planes = num_tables, num_planes  # close over plain ints

    @pandas_udf("array<bigint>")
    def _tags(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype("float64")  # batch × dim
        D = X @ flat.T  # batch × (tables·planes)
        bits = (D >= 0).astype("int64").reshape(len(X), n_tables, n_planes)
        weights = 1 << np.arange(n_planes, dtype="int64")
        buckets = (bits * weights).sum(axis=2)  # batch × tables
        tags = buckets * n_tables + np.arange(n_tables, dtype="int64")
        return pd.Series(list(tags))

    return df.select(
        F.col(id_col).alias("__id"), F.explode(_tags(vec_col)).alias("__tag")
    )


def lsh_pair_candidates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for embedding near-dup dedup — the
    at-scale replacement for the O(N²) pair join: ids collide iff they share
    a bucket in ≥1 of the ``num_tables`` hash tables, so the join is an
    equi-join on the tag (hash-partitioned, AQE-skew-safe), never a
    cross product. Expected candidate volume ≈ Σ per-bucket C(n,2) ≈
    N²/2^num_planes per table — tune ``num_planes`` to the corpus size.

    ``multiprobe`` additionally probes all hamming-distance-1 buckets
    (flipping each bit on side A only — bucket-flip symmetry makes that
    cover both directions), trading num_planes× more A-side tags for
    near-boundary recall.

    Recall for pairs at cosine θ: per-table collision = (1-acos(θ)/π)^planes,
    overall = 1-(1-table)^tables — e.g. cosine 0.95, 8 planes, 8 tables
    → ~0.99."""
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("lsh_pair_candidates: empty DataFrame and no dim given")
        dim = first["d"]
    tagged = tagged_lsh_buckets(
        df, vec_col, id_col, dim=dim, num_planes=num_planes,
        num_tables=num_tables, seed=seed,
    )
    probe = tagged
    if multiprobe:
        # flipped variants: tag encodes bucket*T + t, so bit j of the bucket
        # is bit j of (tag div T) — flip via xor on the bucket then re-tag
        bucket = (F.col("__tag") / num_tables).cast("long")
        table = F.col("__tag") % num_tables
        flipped = tagged.select(
            "__id",
            F.explode(
                F.array(
                    *[
                        (
                            bucket.bitwiseXOR(F.lit(1 << j)) * num_tables + table
                        ).alias("t")
                        for j in range(num_planes)
                    ]
                )
            ).alias("__tag"),
        )
        probe = tagged.unionByName(flipped)
    a, b = probe.alias("a"), tagged.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__tag") == F.col("b.__tag"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    method: str = "arrow",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max dot product over
    unit-normalized centroids) — the IVF coarse quantizer. No shuffle
    either way; the two methods are BIT-IDENTICAL (tests pin the
    equivalence on adversarial inputs — nulls, NaN, ragged lengths,
    ties, ±0.0):

    - ``"arrow"`` (default, r13, guide §4.2): one vectorized pandas UDF
      over the vector column only (ArrowEvalPython ships just that
      column — column pruning for the rest of the row survives). The
      k dots accumulate PER DIMENSION over the row batch
      (``D += X[:,j]·C[:,j]`` — one IEEE multiply then one add per
      element, exactly the JVM's sequential ``acc + x*y`` order, no FMA,
      no pairwise regrouping), so every dot is the same double the
      expression produces; argmax ties and NaN rows resolve to the
      first index, matching ``array_position(dots, array_max(dots))``.
      Rows the expression maps to NULL (null vector, null element,
      length ≠ dim — any of these nulls every dot) are detected
      JVM-side and returned as NULL cells.
    - ``"expr"``: the pure-expression form — an argmax over k JVM
      zip_with/aggregate dots, linear in k via
      array_position(dots, array_max(dots)). This is the form external
      SQL engines replay verbatim; keep it for plan-portability, reach
      for it from docs/oracles, and expect ~k×dim interpreted
      HOF steps per row (the measured bottleneck of every ANN expr
      path)."""
    if method == "expr":
        dots = F.expr(
            "array(" + ",".join(_dot_sql(vec_col, c.tolist()) for c in centroids) + ")"
        )
        cell = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
        return df.withColumn("ivf_cell", cell)
    if method != "arrow":
        raise ValueError(f"ivf_assign: unknown method {method!r}")
    import pandas as pd

    C = np.ascontiguousarray(np.asarray(centroids, dtype="float64"))
    k, dim = C.shape

    @F.pandas_udf("int")
    def _cell(vs: pd.Series, bad: pd.Series) -> pd.Series:
        n = len(vs)
        out = np.zeros(n, dtype="int64")
        ok = ~bad.to_numpy(dtype="bool")
        if ok.any():
            rows = [np.asarray(v, dtype="float64") for v in vs[ok]]
            X = np.vstack(rows) if rows else np.empty((0, dim))
            D = np.zeros((len(rows), k), dtype="float64")
            with np.errstate(invalid="ignore"):
                for j in range(dim):
                    # same float order as the JVM expression: one
                    # multiply, one add per (row, centroid) per
                    # dimension — never a BLAS GEMM, whose blocked
                    # summation reorders the adds
                    D += X[:, j : j + 1] * C[None, :, j]
            nan_rows = np.isnan(D).any(axis=1)
            cells = np.argmax(D, axis=1)
            if nan_rows.any():
                # Spark: array_max → NaN when any dot is NaN; position
                # of the FIRST NaN wins (NaN == NaN there)
                cells[nan_rows] = np.argmax(np.isnan(D[nan_rows]), axis=1)
            out[ok] = cells
        res = pd.array(out, dtype="Int32")
        res[~ok] = None
        return pd.Series(res)

    # NULL detection stays JVM-side: after Arrow conversion a null
    # ELEMENT is indistinguishable from NaN in the Python worker, but
    # the two differ in the expression (null element → NULL cell; NaN
    # element → NaN dots → first-NaN cell)
    v = F.col(vec_col)
    bad = (
        v.isNull()
        | (F.size(v) != F.lit(dim))
        | F.exists(v, lambda x: x.isNull())
    )
    return df.withColumn("ivf_cell", _cell(v, bad))


def ivf_centroids_from_sample(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic centroid init: the k lowest-id vectors, unit-normalized.
    The cheap stand-in — cells are only as good as the first k ids. Use
    :func:`ivf_centroids_kmeans` for real cells (Lloyd iterations over the
    same assign primitive); this remains for zero-pass bootstrapping."""
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    arr = np.array([list(r[0]) for r in rows], dtype="float64")
    norms = np.linalg.norm(arr, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return arr / norms


def ivf_centroids_kmeans(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 4,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Spherical k-means centroids for the IVF coarse quantizer — Lloyd
    iterations built from the existing distributed primitives:

    - **init**: k hash-spread vectors (order by ``xxhash64(id, seed)``) —
      deterministic like the lowest-id stand-in but without its pathology
      (the first k ids may all share a cluster).
    - **assign**: :func:`ivf_assign` — argmax of k JVM-side dot products
      with unit centroids ≡ argmax cosine; one columnar pass, no shuffle.
    - **update**: per-cell mean of UNIT-normalized vectors (spherical
      k-means — the right objective for cosine search) via one posexplode +
      vectorized avg per (cell, dimension); the driver only ever holds
      k × dim floats. Empty cells keep their previous centroid.

    ``sample_fraction`` bounds each iteration's scan for huge corpora
    (centroid quality needs a sample, not the full data)."""
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    norm = F.sqrt(
        F.aggregate(
            F.col("__v"), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    unit = base.withColumn("__n", norm).filter(F.col("__n") > 0)
    unit = unit.select(
        "__id", F.transform("__v", lambda x: x.cast("double") / F.col("__n")).alias("__v")
    ).persist()

    init_rows = (
        unit.orderBy(F.xxhash64(F.col("__id"), F.lit(seed))).limit(k).select("__v").collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"ivf_centroids_kmeans: need >= {k} non-zero vectors")
    centroids = np.array([list(r[0]) for r in init_rows], dtype="float64")

    for _ in range(iters):
        assigned = ivf_assign(unit, centroids, "__v")
        sums = (
            assigned.select("ivf_cell", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("ivf_cell", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        new = centroids.copy()
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cell.setdefault(r["ivf_cell"], {})[r["__pos"]] = r["__m"]
        for cell, dims in by_cell.items():
            vec = np.array([dims[p] for p in sorted(dims)], dtype="float64")
            nrm = float(np.linalg.norm(vec))
            if nrm > 0:
                new[cell] = vec / nrm
        centroids = new
    unit.unpersist()
    return centroids


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: scan only the ``nprobe`` cells whose centroids are most
    similar to the query, then exact top-k within them. With a persisted/
    written ``ivf_assign`` table this reduces a repeated-query scan to
    ~nprobe/k of the data — the inverted-file ANN structure, index-free."""
    q = np.asarray(query, dtype="float64")
    scores = centroids @ q
    # stable sort: ties resolve to the lowest cell index — the same
    # (−dot, index) rule as probe_cells(), so external engines replay
    # the probe set exactly
    probe_cells = [int(c) for c in np.argsort(-scores, kind="stable")[:nprobe]]
    assigned = ivf_assign(df, centroids, vec_col)
    candidates = assigned.filter(F.col("ivf_cell").isin(probe_cells))
    return cosine_topk(candidates, query, k, vec_col, id_col)


def build_ivf_index(
    df: DataFrame,
    path: str,
    centroids: np.ndarray | None = None,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    **kmeans_kwargs,
) -> np.ndarray:
    """Materialize an IVF index on disk: ``{path}/centroids`` (one row per
    cell) and ``{path}/vectors`` — the corpus with its ``ivf_cell``
    assignment, written hive-PARTITIONED BY cell. That layout is the
    point: a probe of ``nprobe`` cells becomes parquet partition pruning,
    so repeated queries read ~nprobe/k of the FILES, not a full scan with
    a post-filter. Build once (one assignment pass + one partitioned
    write), serve many (:func:`ivf_topk_indexed`).

    Trains spherical k-means centroids via :func:`ivf_centroids_kmeans`
    unless ``centroids`` is passed. Returns the centroid matrix.

    The index records its own ``vec_col``/``id_col`` (plus dim and cell
    count) in ``{path}/_IVF.json``, published LAST via the tmp+rename
    state protocol — so :func:`ivf_index_append` and
    :func:`ivf_topk_indexed` never have to be told the column names
    ("parameters are never arguments", the same discipline as the Bloom
    index marker in bloom.py decontamination_index_write)."""
    spark = df.sparkSession
    if centroids is None:
        centroids = ivf_centroids_kmeans(
            df, k=k, vec_col=vec_col, id_col=id_col, **kmeans_kwargs
        )
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    spark.createDataFrame(
        cent_rows, "ivf_cell int, centroid array<double>"
    ).coalesce(1).write.mode(mode).parquet(f"{path}/centroids")
    # repartition ON the cell key before the hive-partitioned write: each
    # cell lands in exactly one task → one file per cell, instead of the
    # (input partitions × cells) small-file explosion a raw partitionBy
    # write produces. A pathologically hot cell makes one big file — the
    # compaction trade-off you want for a read-many index.
    ivf_assign(df, centroids, vec_col).repartition(
        F.col("ivf_cell")
    ).write.mode(mode).partitionBy("ivf_cell").parquet(f"{path}/vectors")
    cent_mat = np.asarray(centroids, dtype="float64")
    _write_state(spark, f"{path}/_IVF.json", {
        "vec_col": vec_col,
        "id_col": id_col,
        "cells": int(cent_mat.shape[0]),
        "dim": int(cent_mat.shape[1]),
        "format": 1,
        "state": "ready",
        "appends": 0,
    })
    return cent_mat


def _ivf_resolve_cols(
    spark, path: str, vec_col: str | None, id_col: str | None,
) -> tuple[str, str, dict | None]:
    """Resolve (vec_col, id_col, params) for a persisted IVF index. The
    ``_IVF.json`` params doc written by :func:`build_ivf_index` is the
    source of truth: explicit arguments must AGREE with it (the stored
    vectors table is named by the build — a divergent name would either
    fail the anti-join or append a mixed-schema batch). Pre-marker
    indexes (built before round 11) fall back to the stored vectors
    schema: the single array column is the vector and, if exactly one
    other non-``ivf_cell`` column remains, it is the id; otherwise the
    legacy defaults apply."""
    from pyspark.sql.types import ArrayType

    params = _read_state(spark, f"{path}/_IVF.json")
    if params and "vec_col" in params:
        for arg, key in ((vec_col, "vec_col"), (id_col, "id_col")):
            if arg is not None and arg != params[key]:
                raise ValueError(
                    f"IVF index at {path!r} records {key}="
                    f"{params[key]!r} but {key}={arg!r} was passed — "
                    "the stored vectors table is named by the build. "
                    "Pass None (or the recorded name), or rebuild with "
                    "build_ivf_index."
                )
        return params["vec_col"], params["id_col"], params
    if vec_col is None or id_col is None:
        fields = spark.read.parquet(f"{path}/vectors").schema.fields
        arrays = [f.name for f in fields if isinstance(f.dataType, ArrayType)]
        others = [
            f.name for f in fields
            if f.name not in arrays and f.name != "ivf_cell"
        ]
        if vec_col is None:
            vec_col = arrays[0] if len(arrays) == 1 else "embedding"
        if id_col is None:
            id_col = others[0] if len(others) == 1 else "vec_id"
    return vec_col, id_col, None


def ivf_index_append(
    df: DataFrame,
    path: str,
    vec_col: str | None = None,
    id_col: str | None = None,
    skew_warn: float = 4.0,
) -> dict:
    """Grow a persisted IVF index (:func:`build_ivf_index`) without
    retraining: assign the new vectors to the EXISTING centroids and
    append them to the cell-partitioned vectors table — one assignment
    pass + one partitioned append, stored cells untouched, so
    append ≡ rebuild over the concatenated corpus at the same centroid
    matrix. Closes the operational gap where every nightly embedding
    batch forced a full index rebuild (the MinHash and Bloom indexes
    have had append since rounds 7/10).

    The codebook is frozen: appended vectors land in whichever existing
    cell is nearest, so a corpus whose distribution drifts away from the
    trained centroids piles up in few cells and probe pruning degrades
    (results stay EXACT within the probed cells — only recall/cost
    shifts). After the append, per-cell counts of the GROWN index (one
    ≤k-row aggregate over the partition column — satisfied from parquet
    metadata-scale work, never the vectors) feed a skew check: hottest
    cell > ``skew_warn``× the mean logs a WARNING recommending a
    retrain via :func:`build_ivf_index`. Returns
    ``{appended, cells, max_cell, mean_cell, skew_ratio,
    retrain_recommended}``.

    Idempotent under re-runs and convergent after a crash: batch ids
    already present in the stored vectors table are anti-joined away
    before the write (same contract as the decontamination index's
    gram anti-join), so re-running the same append is a no-op and a
    crashed append re-run appends only what is missing. Dimension
    drift fails loudly before anything is written: a batch whose
    vectors disagree with the centroid width would otherwise be
    assigned by a truncated dot product. Single-writer contract, like
    every persisted-index mutation here — and quiesce concurrent
    SCREENS too: an append rewrites nothing, but readers planned over
    a mid-append file listing can see a partially-visible batch.

    ``vec_col``/``id_col`` default to the index's own recorded names
    (``_IVF.json``, see :func:`build_ivf_index`); an explicit argument
    that disagrees with the record raises (see
    :func:`_ivf_resolve_cols`)."""
    import logging

    log = logging.getLogger(__name__)
    spark = df.sparkSession
    vec_col, id_col, params = _ivf_resolve_cols(spark, path, vec_col, id_col)
    centroids = load_ivf_centroids(spark, path)
    dim = int(centroids.shape[1])
    probe = df.select(F.size(vec_col).alias("__d")).filter(
        F.col("__d") != dim
    )
    bad = probe.first()
    if bad is not None:
        raise ValueError(
            f"ivf_index_append: batch vectors have dimension {bad['__d']} "
            f"but the index at {path!r} was built over dimension {dim} — "
            "refusing to append (the assignment dot product would "
            "silently truncate). Rebuild with build_ivf_index."
        )
    stored_ids = spark.read.parquet(f"{path}/vectors").select(id_col)
    fresh = df.join(stored_ids, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    n_new = fresh.count()
    if n_new == 0:
        log.info("ivf_index_append: no new ids for %s — no-op", path)
    else:
        ivf_assign(fresh, centroids, vec_col).repartition(
            F.col("ivf_cell")
        ).write.mode("append").partitionBy("ivf_cell").parquet(
            f"{path}/vectors"
        )
    sizes = (
        spark.read.parquet(f"{path}/vectors")
        .groupBy("ivf_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = [r["n"] for r in sizes]
    mean_cell = sum(counts) / max(len(counts), 1)
    max_cell = max(counts) if counts else 0
    skew = max_cell / mean_cell if mean_cell else 0.0
    report = {
        "appended": n_new,
        "cells": len(counts),
        "max_cell": max_cell,
        "mean_cell": mean_cell,
        "skew_ratio": skew,
        "retrain_recommended": skew > skew_warn,
    }
    if n_new and params is not None:
        _write_state(spark, f"{path}/_IVF.json", {
            **params, "appends": int(params.get("appends", 0)) + 1,
        })
    if report["retrain_recommended"]:
        log.warning(
            "ivf_index_append: hottest cell holds %d vectors vs mean %.1f "
            "(%.1fx > %.1fx threshold) — the corpus has drifted from the "
            "trained centroids and probe pruning is degrading; retrain "
            "with build_ivf_index.",
            max_cell, mean_cell, skew, skew_warn,
        )
    return report


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    """Centroid matrix of a :func:`build_ivf_index` index (cell-ordered)."""
    rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("ivf_cell").collect()
    )
    return np.array([list(r.centroid) for r in rows], dtype="float64")


def ivf_topk_indexed(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Serve a top-k query from a persisted IVF index: pick the ``nprobe``
    nearest cells driver-side (k tiny dot products against the loaded
    centroids), then scan ONLY those hive partitions of the vectors table
    — the ``ivf_cell`` filter prunes at file-listing time, so the job
    reads nprobe cells' worth of parquet and nothing else.
    ``vec_col``/``id_col`` default to the index's recorded names
    (see :func:`_ivf_resolve_cols`)."""
    vec_col, id_col, _ = _ivf_resolve_cols(spark, path, vec_col, id_col)
    cents = load_ivf_centroids(spark, path)
    q = np.asarray(query, dtype="float64")
    # stable sort: same (−dot, index) tie rule as ivf_topk/probe_cells
    probe = [int(c) for c in np.argsort(-(cents @ q), kind="stable")[:nprobe]]
    vectors = spark.read.parquet(f"{path}/vectors")
    candidates = vectors.filter(F.col("ivf_cell").isin(probe))
    return cosine_topk(candidates, query, k, vec_col, id_col)


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket (plus, with
    ``multiprobe``, all buckets at hamming distance 1 — recovers most
    near-boundary misses for 1+num_planes× the scan).

    Recall is probabilistic; the differential test compares against
    ``cosine_topk`` for overlap. Precision of returned scores is exact
    (true cosine is computed for scanned rows).
    """
    q = np.asarray(query, dtype="float64")
    planes = random_hyperplanes(len(q), num_planes, seed)
    signs = (planes @ q >= 0).astype("int64")
    qbucket = int(sum(int(s) << j for j, s in enumerate(signs)))
    probe = [qbucket]
    if multiprobe:
        probe += [qbucket ^ (1 << j) for j in range(num_planes)]

    bucketed = with_lsh_buckets(df, vec_col, num_planes, seed, dim=len(q))
    candidates = bucketed.filter(F.col("lsh_bucket").isin(probe))
    return cosine_topk(candidates, query, k, vec_col, id_col)


def embedding_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Per-group mean embedding (``group``, ``centroid``, ``n_members``) —
    the pooling primitive behind cluster-scoped semantic dedup and
    source-level representation analysis.

    Relational formulation: posexplode → one hash-aggregate on
    (group, position) → re-assemble with a position-sorted array_agg.
    Two shuffles total, map-side partial sums, no UDF — the array never
    rides through a Python worker. ``normalize=True`` scales each centroid
    to unit L2 norm (spherical mean), the form cosine comparisons want.
    """
    pos_sum = (
        df.select(group_col, F.posexplode(vec_col).alias("__pos", "__v"))
        .groupBy(group_col, "__pos")
        .agg(F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    assembled = (
        pos_sum.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", (F.col("__s") / F.col("__n")).alias("__m")))
            ).alias("__pairs"),
            F.first("__n").alias("n_members"),
        )
        .select(
            group_col,
            F.transform("__pairs", lambda p: p["__m"]).alias("centroid"),
            "n_members",
        )
    )
    if normalize:
        nrm = F.sqrt(
            F.aggregate("centroid", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        assembled = assembled.select(
            group_col,
            F.transform("centroid", lambda x: F.round(x / nrm, 6)).alias("centroid"),
            "n_members",
        )
    return assembled


def diversity_cap(
    df: DataFrame,
    centroids: np.ndarray,
    cap: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    keep_cell: bool = False,
) -> DataFrame:
    """Diversity-capped sampling: assign every vector to its nearest
    centroid cell, then keep at most ``cap`` rows per cell — the
    embedding-space analogue of the per-domain frequency cap (C4-style):
    semantically redundant regions of the corpus contribute at most
    ``cap`` documents each, so no single mode dominates the mixture
    (the SemDeDup-adjacent "prune dense clusters" curation stage,
    without computing any pairs).

    Selection within a cell is md5(seed, id) order (same deterministic
    contract as :func:`mini_etl_spark.functions.splits.cap_per_group`) —
    reproducible across engines and stable under repartitioning. With
    seeded :func:`random_unit_centroids` the ENTIRE selection replays in
    external SQL. Cost: one columnar assignment pass (k JVM dots, no
    UDF) + one hash-partitioned window per cell (a single shuffle on the
    cell id) — no pair joins anywhere.

    ``keep_cell=True`` appends the ``ivf_cell`` column to the output.
    """
    from mini_etl_spark.functions.splits import cap_per_group

    assigned = ivf_assign(df, centroids, vec_col)
    capped = cap_per_group(assigned, "ivf_cell", id_col, cap, seed)
    return capped if keep_cell else capped.drop("ivf_cell")


def probe_cells(
    vec_col: Column | str,
    centroids: np.ndarray,
    nprobe: int,
) -> Column:
    """Array of the ``nprobe`` cell ids whose centroids have the highest
    dot product with the vector — the multi-probe generalization of
    :func:`ivf_assign` (``nprobe=1`` reproduces its argmax, same
    first-maximal tie rule via the (−dot, index) struct sort). Pure JVM
    expression: k dots → struct array → ``array_sort`` → slice."""
    if isinstance(vec_col, str):
        # literal-heavy path rendered as ONE parsed expression (see _dot_sql)
        entries = F.expr(
            "array("
            + ",".join(
                f"named_struct('nd', -({_dot_sql(vec_col, cent.tolist())}), 'i', {i})"
                for i, cent in enumerate(centroids)
            )
            + ")"
        )
    else:
        entries = F.array(
            *[
                F.struct(
                    (-_dot(vec_col, cent.tolist())).alias("nd"),
                    F.lit(i).alias("i"),
                )
                for i, cent in enumerate(centroids)
            ]
        )
    return F.transform(
        F.slice(F.array_sort(entries), 1, nprobe), lambda s: s["i"]
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = False,
    method: str = "arrow",
) -> DataFrame:
    """Batched approximate k-NN join — the retrieval primitive (RAG lookup,
    cross-corpus linking): for EVERY query row, the ``k`` most
    cosine-similar corpus rows, searched within the query's ``nprobe``
    nearest coarse cells. Returns (query_id, corpus_id, rank, cosine),
    rank 1 = most similar; ties broken by corpus id for engine-stable
    output (cosine compared after round-4, so the order is replayable).

    vs ``cosine_topk`` (one query vector, full scan) this amortizes a
    whole query TABLE: corpus cell assignment is one columnar pass (write
    it out once for repeated workloads), the join is an equi join on the
    cell id, and per-query top-k is a hash-partitioned window — the pair
    space is Σ(q_cell × c_cell), never |Q|×|C|. Recall follows the coarse
    quantizer: neighbors in un-probed cells are missed (pytest-gated vs
    the exact scan on planted clusters; raise ``nprobe`` to trade cost
    for recall). With deterministic centroids
    (:func:`random_unit_centroids`) the whole join is replayable in
    external engines — the driver query carries a full hash oracle.

    ``exclude_self`` drops query==corpus id matches (self-join usage).

    ``method``: ``"arrow"`` (default — the measured fast path, 4-5× at
    sf0.1) runs one BLAS matmul per Arrow batch for cell assignment,
    probing, and pair scoring. ``"expr"`` runs the same plan as JVM
    column expressions — sequential-sum float semantics an external SQL
    engine replays bit-for-bit (the oracle path; pass it explicitly when
    cross-engine bit-reproducibility matters). Result sets agree except
    for values within float error of a rank boundary at the 4th decimal.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(f"nprobe must be in [1, {len(centroids)}], got {nprobe}")
    if method not in ("expr", "arrow"):
        raise ValueError(f"knn_join: unknown method {method!r}")

    if method == "arrow":
        cents = np.asarray(centroids, dtype="float64")
        n_probe = int(nprobe)

        @pandas_udf("int")
        def _cell(v: pd.Series) -> pd.Series:
            X = np.stack(v.to_numpy()).astype("float64")
            # first maximal index — same tie rule as ivf_assign
            return pd.Series(np.argmax(X @ cents.T, axis=1).astype("int32"))

        @pandas_udf("array<int>")
        def _probes(v: pd.Series) -> pd.Series:
            X = np.stack(v.to_numpy()).astype("float64")
            D = X @ cents.T
            # stable sort on -dot == (−dot, index) lexicographic order
            order = np.argsort(-D, axis=1, kind="stable")[:, :n_probe]
            return pd.Series(list(order.astype("int32")))

        @pandas_udf("double")
        def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
            A = np.stack(a.to_numpy()).astype("float64")
            B = np.stack(b.to_numpy()).astype("float64")
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            return pd.Series(np.round(num / den, 4))

        corp = corpus.select(
            F.col(id_col).alias("__cid"),
            F.col(vec_col).alias("__cv"),
            _cell(F.col(vec_col)).alias("__cell"),
        )
        qry = queries.select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            F.explode(_probes(F.col(vec_col))).alias("__cell"),
        )
        joined = qry.join(corp, "__cell")
        if exclude_self:
            joined = joined.filter(F.col("__qid") != F.col("__cid"))
        scored = joined.select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("corpus_id"),
            _cos(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    else:
        def _nrm(col: str) -> Column:
            return F.sqrt(
                F.aggregate(
                    F.col(col),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )

        corp = ivf_assign(corpus, centroids, vec_col).select(
            F.col(id_col).alias("__cid"),
            F.col(vec_col).alias("__cv"),
            F.col("ivf_cell").alias("__cell"),
            _nrm(vec_col).alias("__cn"),
        )
        qry = queries.select(
            F.col(id_col).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            F.explode(probe_cells(vec_col, centroids, nprobe)).alias("__cell"),
            _nrm(vec_col).alias("__qn"),
        )
        joined = qry.join(corp, "__cell")
        if exclude_self:
            joined = joined.filter(F.col("__qid") != F.col("__cid"))
        dot = F.aggregate(
            F.zip_with(
                F.col("__qv"), F.col("__cv"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = joined.select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("corpus_id"),
            F.round(dot / (F.col("__qn") * F.col("__cn")), 4).alias("cosine"),
        )
    if nprobe > 1:
        # a corpus vector can sit in several probed cells of one query
        scored = scored.dropDuplicates(["query_id", "corpus_id"])
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select("query_id", "corpus_id", "rank", "cosine")
    )


def random_unit_centroids(dim: int, k: int, seed: int = 7) -> np.ndarray:
    """Seeded random unit vectors as fixed partitioning centroids — the
    deterministic coarse quantizer (random-projection cells). Unlike
    k-means centroids these are reproducible from (dim, k, seed) alone,
    which lets an external engine replay cell assignment exactly."""
    rng = np.random.default_rng(seed)
    c = rng.normal(size=(k, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _cosine_admit(A, B, na, nb, thr: float):
    """Candidate mask of the GEMM cosine prefilters (``cell_cosine_pairs``,
    ``dedup.embedding_cosine_pairs``) over rows ``A`` x ``B`` with row
    norms ``na``/``nb``: ``cosine >= thr``, plus every pair with a row
    norm outside [2^-500, 2^500].

    For two rows with norms in that range every partial dot sum stays
    below 2^1000 (Cauchy-Schwarz) and the norm product above 2^-1000, so
    the GEMM and the JVM's sequential sum score the pair alike up to
    float error. Outside it they can disagree outright: the JVM
    overflows a product to inf (cosine NaN, which passes the SQL ``>=``
    filter since NaN sorts above every double) where a fused
    multiply-add stays finite, or an underflowed norm turns either score
    into inf/NaN. Such pairs (NaN norms, from NaN or null elements,
    included) are admitted and the exact rescore decides; this covers
    every non-finite score."""
    tame_a = (na >= 2.0**-500) & (na <= 2.0**500)
    tame_b = (nb >= 2.0**-500) & (nb <= 2.0**500)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        C = (A @ B.T) / np.outer(na, nb)
        return (C >= thr) | ~(tame_a[:, None] & tame_b[None, :])


def cell_cosine_pairs(
    df: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "arrow",
) -> DataFrame:
    """Cluster-scoped semantic near-dup pairs (the SemDeDup shape): assign
    every vector to its nearest centroid cell, then exact cosine pairs
    WITHIN each cell — an equi join on the cell id, so the pair space is
    Σ|cell|² instead of N². Near-duplicates (cosine → 1) land in the same
    cell almost surely, so recall loss is confined to pairs straddling a
    cell boundary — the standard SemDeDup trade; use
    :func:`mini_etl_spark.functions.dedup.embedding_cosine_pairs_lsh` when
    boundary recall matters more than per-cell locality.

    One columnar assignment pass (k JVM dot products, no UDF), one
    shuffle on the cell id, exact cosine on candidates only.

    ``method``: ``"arrow"`` (default) runs one numpy matmul per cell via
    applyInPandas — 10-50× faster on large cells (BLAS, SIMD summation
    order). ``"expr"`` emits scores computed by a JVM zip_with dot —
    sequential-sum float semantics an external SQL engine replays
    bit-for-bit; pass it explicitly when cross-engine
    bit-reproducibility matters (the oracle path). Pair SETS agree
    except for values within float error of the threshold.

    The ``expr`` path (r13, guide §4.2) generates CANDIDATES with one
    numpy GEMM per cell at ``threshold − 6e-5`` (the round-to-4
    admission slack plus float-summation-order slop; pairs whose exact
    cosine is NULL can never pass the final filter, and pairs with a
    vector norm outside [2^-500, 2^500], where the GEMM and the JVM
    sum can disagree on inf/NaN, are admitted unscored), then
    re-scores the few survivors with the ORIGINAL JVM expression — the
    output is bit-identical to the per-pair-expression plan by
    construction, the in-cell O(|cell|²) interpreted-dot stream is
    gone, and every emitted score still comes from the replayable
    expression.
    """
    if method == "arrow":
        return _cell_cosine_pairs_arrow(df, centroids, threshold, vec_col, id_col)
    if method != "expr":
        raise ValueError(f"cell_cosine_pairs: unknown method {method!r}")
    import pandas as pd

    assigned = ivf_assign(df, centroids, vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    base = assigned.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col("ivf_cell").alias("__cell"),
        norm.alias("__n"),
    )
    thr = threshold - 6e-5

    def _cands(pdf):
        empty = pd.DataFrame({"id_a": [], "id_b": []})
        if len(pdf) < 2 or pdf["__cell"].isna().any():
            # a NULL cell never equi-joins in the exact plan — no pairs
            return empty
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        outs_a, outs_b = [], []
        # pairs of unequal length have NULL exact cosine (zip_with pads
        # with null) and can never pass the final filter — compare only
        # equal-length groups. Null elements become NaN here; their
        # exact cosine is NULL (dropped), and the rescore discards the
        # over-admitted candidates, so NaN-admission is always safe.
        lens = pdf["__v"].map(lambda v: -1 if v is None else len(v))
        for L, idx in pdf.groupby(lens.values).indices.items():
            if L <= 0 or len(idx) < 2:
                continue
            sub = pdf.iloc[idx]
            M = np.array(
                [np.asarray(v, dtype="float64") for v in sub["__v"]]
            )
            nrm = np.linalg.norm(M, axis=1)
            mask = _cosine_admit(M, M, nrm, nrm, thr)
            sid = sub["__id"].to_numpy()
            mask &= sid[:, None] < sid[None, :]
            xi, yi = np.nonzero(mask)
            outs_a.append(sid[xi])
            outs_b.append(sid[yi])
        if not outs_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(outs_a), "id_b": np.concatenate(outs_b)}
        )

    id_dt = df.schema[id_col].dataType.simpleString()
    cand = base.groupBy("__cell").applyInPandas(
        _cands, f"id_a {id_dt}, id_b {id_dt}"
    )
    # exact rescore with the original expression — bit-identical output
    dot = F.aggregate(
        F.zip_with(
            F.col("__va"), F.col("__vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
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
                F.col("__cell").alias("cell"),
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
        .select("id_a", "id_b", "cell", "cosine")
    )


def _cell_cosine_pairs_arrow(
    df: DataFrame,
    centroids: np.ndarray,
    threshold: float,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Arrow path for :func:`cell_cosine_pairs`: one normalized matmul per
    cell inside applyInPandas. Cell population is bounded by the coarse
    quantizer (≈ N/k), so the per-group O(|cell|²) stays executor-local;
    partitions hold whole cells, never the corpus."""
    import pandas as pd

    assigned = ivf_assign(df, centroids, vec_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), "ivf_cell"
    )

    def _pairs(pdf: pd.DataFrame):
        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
                 "cell": pd.Series(dtype="int64"), "cosine": pd.Series(dtype="float64")}
            )
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        mat = np.stack([np.asarray(v, dtype="float64") for v in pdf["__v"]])
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = np.round(mat @ mat.T, 4)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cell": np.full(int(keep.sum()), int(pdf["ivf_cell"].iloc[0]), dtype="int64"),
                "cosine": sims[iu, ju][keep],
            }
        )

    return assigned.groupBy("ivf_cell").applyInPandas(
        _pairs, "id_a bigint, id_b bigint, cell bigint, cosine double"
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
    out_col: str = "codes",
) -> DataFrame:
    """Per-dimension scalar quantization to ``levels`` integer codes —
    the storage/bandwidth lever for 100 TB embedding tables (float32 →
    int8 is 4×; ANN recall loss is typically <1% at 256 levels).

    Two-phase plan: (1) one aggregate pass computes per-dimension min/max
    (``posexplode`` → hash aggregate — dimension-sized output, collected
    to the driver like any scalar-stats broadcast); (2) codes are a pure
    projection ``floor((x - min_d) / (max_d - min_d) * (levels-1) + 0.5)``
    with the per-dim stats as literal arrays — zero additional shuffles,
    whole-stage codegen. Constant dimensions (max == min) code to 0.

    The arithmetic is plain float64 with half-up rounding via the
    floor(+0.5) trick, so an external engine replays the codes
    bit-for-bit (full-hash DuckDB oracle in the driver battery).

    Returns (id, ``out_col`` array<int>). Dequantize with
    ``x̂ = min_d + code * (max_d - min_d) / (levels-1)``.
    """
    stats = (
        df.select(F.posexplode(vec_col).alias("__pos", "__x"))
        .groupBy("__pos")
        .agg(F.min("__x").alias("__mn"), F.max("__x").alias("__mx"))
        .orderBy("__pos")
        .collect()
    )
    mins = F.array(*[F.lit(float(r["__mn"])) for r in stats])
    # 0.0 range sentinel for constant dims; guarded in the code expression
    ranges = F.array(*[F.lit(float(r["__mx"]) - float(r["__mn"])) for r in stats])

    def _code(x: Column, i: Column) -> Column:
        rng = F.element_at(ranges, i + 1)
        mn = F.element_at(mins, i + 1)
        return F.when(rng == 0.0, F.lit(0)).otherwise(
            F.floor(
                (x.cast("double") - mn) / rng * F.lit(float(levels - 1)) + F.lit(0.5)
            ).cast("int")
        )

    return df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), _code).alias(out_col),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the billion-scale ANN compression path
# ---------------------------------------------------------------------------

def pq_random_codebooks(
    dim: int, m: int = 8, k: int = 16, seed: int = 13
) -> np.ndarray:
    """Seeded random PQ codebooks, shape (m, k, dim/m) — deterministic from
    (dim, m, k, seed) alone, so an external engine can replay code
    assignment exactly (the differential-oracle counterpart of
    :func:`pq_train_codebooks`, same pattern as random_unit_centroids)."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    rng = np.random.default_rng(seed)
    return rng.normal(scale=0.5, size=(m, k, dim // m))


def pq_train_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Train PQ codebooks: independent k-means per subspace, each reusing
    the distributed Lloyd loop (:func:`ivf_centroids_kmeans`) over a
    sliced view of the vectors — m small training jobs whose driver state
    is m × k × (dim/m) floats, never the corpus. Subspace slicing is a
    zero-copy column expression; ``sample_fraction`` bounds each scan."""
    dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for s in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias(vec_col),
        )
        books.append(
            ivf_centroids_kmeans(
                sub, k=k, vec_col=vec_col, id_col=id_col, iters=iters,
                seed=seed + s, sample_fraction=sample_fraction,
            )
        )
    return np.stack(books)


def _pq_sqdist_sql(vec_col: str, start: int, centroid) -> str:
    """Σ (vec[start+t] − c_t)² rendered as SQL text: "+" parses
    left-associative, so term order — and therefore the double result —
    is pinned exactly as the per-Column accumulation loop produced it,
    while the whole subspace distance costs one driver round-trip."""
    terms = []
    for t, c in enumerate(centroid):
        d = f"(CAST(element_at({vec_col}, {start + t + 1}) AS DOUBLE) - {_dlit(c)})"
        terms.append(f"({d} * {d})")
    return "(" + " + ".join(terms) + ")"


def pq_codes(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_codes",
    method: str = "arrow",
) -> DataFrame:
    """Assign each vector its PQ code word: per subspace, the index of the
    nearest codebook centroid (squared L2). Zero shuffles either way.

    ``method="arrow"`` (default): one numpy broadcast-subtract + argmin
    per Arrow batch (the sanctioned dense-linear-algebra pandas_udf) —
    the 100 TB compression pass at any codebook size; SIMD summation
    order may differ from the expr path in the last ulp (tie-adjacent
    codes only). Measured 12× faster than expr at sf0.1.

    ``method="expr"``: m × k explicit distance expressions + array-min
    struct argmin (first minimal index on ties) — pinned float order, so
    an external SQL engine replays the codes bit-for-bit (pass it
    explicitly for the oracle path). The expression tree grows as
    m·k·(dim/m); past ~500 terms Janino refuses the generated method and
    evaluation falls back to interpreted — keep m·k·dsub modest.

    Returns (id, ``out_col`` array<int>): dim float32 → m small codes
    (32× at dim=64, m=8) while ADC keeps ~full-precision ranking."""
    m, k, dsub = codebooks.shape
    if method == "arrow":
        cb = codebooks.astype("float64")

        @pandas_udf("array<int>")
        def _codes(v: pd.Series) -> pd.Series:
            X = np.stack(v.to_numpy()).astype("float64")  # batch × dim
            out = np.empty((len(X), m), dtype="int32")
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]  # batch × dsub
                d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                out[:, s] = d.argmin(axis=1)  # first minimal index on ties
            return pd.Series(list(out))

        return df.select(F.col(id_col), _codes(F.col(vec_col)).alias(out_col))
    if method != "expr":
        raise ValueError(f"pq_codes: unknown method {method!r}")
    code_cols = []
    for s in range(m):
        structs = ",".join(
            f"named_struct('d', {_pq_sqdist_sql(vec_col, s * dsub, codebooks[s][j])},"
            f" 'j', {j})"
            for j in range(k)
        )
        # array_min on struct<d,j> orders by (d, j): first minimal index
        # wins, same tie rule as the Column form F.array_min(...)["j"]
        code_cols.append(F.expr(f"array_min(array({structs})).j"))
    return df.select(F.col(id_col), F.array(*code_cols).alias(out_col))


def pq_adc_topk(
    df: DataFrame,
    query: Sequence[float],
    codebooks: np.ndarray,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "arrow",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): the
    query is NOT quantized — per subspace, a k-entry lookup table of
    squared distances from the query slice to every centroid is computed
    once on the driver (m × k floats, broadcast as literals), and each
    candidate's distance is Σ_m lut[m][code_m] — m array lookups per row,
    no vector arithmetic at scan time. TakeOrderedAndProject keeps the
    top-k; ties break on id for cross-engine determinism.

    Output: (id, ``adc_dist`` rounded to 6). ``method`` selects the code
    assignment path (see :func:`pq_codes`): ``"arrow"`` (default) is the
    BLAS-batched encoder — the at-scale choice; ``"expr"`` is the bit-
    replayable oracle chain — identical ranking except for tie-adjacent
    codes in the last float ulp.
    """
    nb, kc, dsub = codebooks.shape
    codes = pq_codes(df, codebooks, vec_col, id_col, method=method)
    luts = []
    for s in range(nb):
        row = []
        for j in range(kc):
            acc = 0.0
            for t in range(dsub):  # left-assoc, mirrors the SQL twin
                d = float(query[s * dsub + t]) - float(codebooks[s][j][t])
                acc = acc + d * d
            row.append(acc)
        luts.append(row)
    parts = []
    for s in range(nb):
        arr = "array(" + ",".join(_dlit(v) for v in luts[s]) + ")"
        parts.append(f"element_at({arr}, element_at(pq_codes, {s + 1}) + 1)")
    # "+" parses left-associative: same accumulation order as the
    # per-Column loop, one driver round-trip for the whole ADC sum
    score = F.expr("(" + " + ".join(parts) + ")")
    return (
        codes.withColumn("adc_dist", F.round(score, 6))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "adc_dist")
    )


def kmeans_int(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    levels: int = 256,
) -> DataFrame:
    """Distributed Lloyd's k-means over INTEGER-quantized vectors — the
    clustering pass behind semantic bucketing / diversity sampling /
    IVF training, built so every step is exact integer arithmetic and
    therefore bit-replayable by any engine (full-hash DuckDB oracle in
    the driver battery; float k-means is never cross-engine stable
    because mean() is a float sum whose order differs).

    Pipeline per iteration (``iters`` updates, then one final assign):

    - **assign**: squared L2 distance to every centroid in one
      ``mapInArrow`` block-GEMM — the code batch is viewed as an int64
      matrix and ``‖x‖² − 2·X@Cᵀ + ‖c‖²`` computed in numpy integer
      arithmetic (exact: the same longs the old interpreted
      ``aggregate(zip_with(...))`` HOF chain produced element-by-element,
      verified identical on the full sf0.1 table; max |code| is
      ``levels``, so int64 never saturates for any real dim). argmin
      ties break to the smallest cluster id, same as the old
      (dist, cluster) struct-min. One Arrow batch crossing per task
      instead of k interpreted HOF evaluations per row (guide §4.2).
    - **update**: the SAME GEMM assigns clusters inside a stats pass
      that emits per-partition (cluster, dim, Σcode, n) partials —
      dimension-bounded rows per task — which one hash aggregate merges;
      ``sum // count`` floor division keeps centroids integer; empty
      clusters keep their previous centroid. The old shape re-joined the
      assignment frame back to the codes on id and posexploded every
      code element into the aggregate; the fused pass removes that join
      and shrinks the aggregate input from rows×dim to tasks×k×dim. The
      k×dim stats row set is dimension-bounded driver state (like the
      PQ/IVF codebooks), so the loop's collect never scales with rows.

    Init: the ``k`` smallest ``id_col`` rows' code vectors (cluster j =
    rank j in id order) — deterministic, engine-replayable. Codes come
    from :func:`quantize_embeddings` (``levels`` buckets, itself
    oracle-replayable). The codes frame is persisted across iterations;
    lineage stays flat because centroids travel as literals.

    Returns (``id_col``, ``cluster`` int, ``dist`` long = squared L2 in
    code space).
    """
    if k < 1 or iters < 0:
        raise ValueError(f"k must be >= 1 and iters >= 0, got k={k}, iters={iters}")
    codes = quantize_embeddings(df, vec_col, id_col, levels=levels, out_col="__codes")
    codes = codes.persist()

    init_rows = codes.orderBy(F.col(id_col)).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"kmeans_int: need >= {k} rows, got {len(init_rows)}")
    cents: list[list[int]] = [list(r["__codes"]) for r in init_rows]
    dim = len(cents[0])

    def _dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², all int64 — exact, no float detour
        xn = (X * X).sum(axis=1)
        cn = (C * C).sum(axis=1)
        return xn[:, None] - 2 * (X @ C.T) + cn[None, :]

    def _assign(cent_lists: list[list[int]]) -> DataFrame:
        C = np.asarray(cent_lists, dtype=np.int64)

        def fn(batches):
            import pyarrow as pa

            for batch in batches:
                tbl = pa.table(batch)
                ids = tbl.column(0).combine_chunks()
                X = np.asarray(
                    tbl.column(1).combine_chunks().flatten(), dtype=np.int64
                ).reshape(-1, C.shape[1])
                D = _dists(X, C)
                cl = np.argmin(D, axis=1)  # ties → first = smallest id
                d = D[np.arange(len(cl)), cl]
                yield pa.record_batch(
                    [ids, pa.array(cl.astype(np.int32)), pa.array(d)],
                    names=["__kid", "cluster", "dist"],
                )

        return codes.select(id_col, "__codes").mapInArrow(
            fn, "__kid long, cluster int, dist long"
        ).withColumnRenamed("__kid", id_col)

    for _ in range(iters):
        C = np.asarray(cents, dtype=np.int64)

        def stats_fn(batches, C=C):
            import pyarrow as pa

            for batch in batches:
                tbl = pa.table(batch)
                X = np.asarray(
                    tbl.column(0).combine_chunks().flatten(), dtype=np.int64
                ).reshape(-1, C.shape[1])
                cl = np.argmin(_dists(X, C), axis=1)
                sums = np.zeros_like(C)
                cnts = np.zeros(C.shape[0], dtype=np.int64)
                np.add.at(sums, cl, X)
                np.add.at(cnts, cl, 1)
                nz = np.flatnonzero(cnts)
                k_idx = np.repeat(nz, C.shape[1])
                yield pa.record_batch(
                    [
                        pa.array(k_idx.astype(np.int32)),
                        pa.array(np.tile(np.arange(C.shape[1], dtype=np.int32), len(nz))),
                        pa.array(sums[nz].ravel()),
                        pa.array(np.repeat(cnts[nz], C.shape[1])),
                    ],
                    names=["cluster", "__pos", "__s", "__n"],
                )

        stats = (
            codes.select("__codes")
            .mapInArrow(stats_fn, "cluster int, __pos int, __s long, __n long")
            .groupBy("cluster", "__pos")
            .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n"))
            .collect()
        )
        got = {(r["cluster"], r["__pos"]): r for r in stats}
        cents = [
            [
                int(got[(j, p)]["__s"] // got[(j, p)]["__n"])
                if (j, p) in got
                else cents[j][p]  # empty cluster: centroid unchanged
                for p in range(dim)
            ]
            for j in range(k)
        ]
    return _assign(cents)


def semantic_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.9,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "arrow",
) -> DataFrame:
    """Embedding-level train/eval decontamination — the semantic sibling
    of the n-gram :func:`~mini_etl_spark.functions.dedup.decontaminate`:
    drop every training row whose embedding is cosine-≥ ``threshold``
    similar to ANY eval row, catching paraphrased/translated leakage
    that exact n-gram containment misses.

    Pure composition over the oracled retrieval primitive: a train row's
    maximum similarity to the eval set IS its :func:`knn_join` top-1
    (train as queries, eval as corpus), so contamination is one
    ``k=1`` retrieval + threshold filter + left-anti join. Pair space is
    Σ(train_cell × eval_cell) within ``nprobe`` probed cells — never
    |train| × |eval| — and the eval side is typically tiny (benchmark
    suites), so at 100 TB this is one cell-assignment pass over train
    plus a cells-worth of scoring. Recall follows the coarse quantizer
    (same contract as knn_join: a leak hiding in an un-probed cell is
    missed; raise ``nprobe``).

    Returns the surviving ``train_df`` rows unchanged."""
    hits = knn_join(
        train_df,
        eval_df,
        centroids,
        k=1,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        method=method,
    )
    contaminated = hits.filter(F.col("cosine") >= F.lit(float(threshold))).select(
        F.col("query_id").alias(id_col)
    )
    return train_df.join(contaminated, id_col, "left_anti")
