"""Focused locks for the round-13 optimizations.

Structural pins (so a refactor cannot silently re-introduce removed
work) plus bit-level equivalence tests for the rewritten fast paths:

- ``ivf_assign``'s Arrow twin is bit-identical to the expression form
  on adversarial inputs (nulls, NaN, ragged lengths, ties, ±0.0) and on
  dense random batches;
- ``cell_cosine_pairs(method="expr")``'s GEMM prefilter + exact rescore
  equals the direct per-pair-expression join bit-for-bit;
- ``_span_postings`` drops document-frequency-1 spans (they cannot form
  a pair) before the self-join;
- the exact-percentile scale guard falls back (loudly) to
  ``percentile_approx`` above the size limit and stays exact below it;
- the ``embedding_cosine_pairs`` block-GEMM guard routes oversized
  inputs to the LSH path with a warning;
- both guards act only on a credible size estimate: a frame without
  statistics (optimizer sentinel ``spark.sql.defaultSizeInBytes``) keeps
  the exact / GEMM path.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_spark import plans  # noqa: E402


ADVERSARIAL_VECS = [
    (1, [0.1, 0.2, 0.3, 0.4]),
    (2, [1.0, 0.0, 0.0, 0.0]),
    (3, [float("nan"), 1.0, 1.0, 1.0]),
    (4, [None, 1.0, 1.0, 1.0]),
    (5, [1.0, 2.0]),
    (6, [1.0, 2.0, 3.0, 4.0, 5.0]),
    (7, []),
    (8, None),
    (9, [0.0, 0.0, 0.0, 0.0]),
    (10, [-0.0, 0.0, -0.0, 0.0]),
    (11, [float("inf"), 1.0, -1.0, 0.5]),
    (12, [float("-inf"), float("inf"), 1.0, 0.5]),
    (13, [1e300, 1e300, -1e300, 1e-300]),
]


def _vec_frame(spark, rows, float32=False):
    from pyspark.sql import types as T

    elem = T.FloatType() if float32 else T.DoubleType()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(elem)),
        ]
    )
    if float32:
        rows = [
            (i, None if v is None else [None if x is None else float(x) for x in v])
            for i, v in rows
        ]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("float32", [False, True])
def test_ivf_assign_arrow_matches_expr_adversarial(spark, float32):
    from mini_etl_spark.functions import similarity as sim

    cents = sim.random_unit_centroids(dim=4, k=5, seed=7)
    # duplicate centroids force argmax ties
    cents = np.vstack([cents[0], cents[0], cents[1], cents[2]])
    df = _vec_frame(spark, ADVERSARIAL_VECS, float32=float32)
    expr = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="expr").collect()
    }
    arrow = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="arrow").collect()
    }
    assert expr == arrow


def test_ivf_assign_arrow_matches_expr_dense(spark):
    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(13)
    cents = sim.random_unit_centroids(dim=16, k=8, seed=3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(500)
    ]
    df = _vec_frame(spark, rows)
    expr = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="expr").collect()
    }
    arrow = {
        r["vec_id"]: r["ivf_cell"]
        for r in sim.ivf_assign(df, cents, "embedding", method="arrow").collect()
    }
    assert expr == arrow


def test_ivf_assign_arrow_ships_only_the_vector_column(spark):
    """The Arrow twin must stay a column expression (ArrowEvalPython over
    the vec column), not an opaque mapInArrow over the whole row — column
    pruning for the rest of the frame is the §4 contract."""
    from pyspark.sql import functions as F

    from mini_etl_spark.functions import similarity as sim

    cents = sim.random_unit_centroids(dim=4, k=3, seed=7)
    df = _vec_frame(spark, [(1, [0.1, 0.2, 0.3, 0.4])]).withColumn(
        "wide_payload", F.lit("x" * 10)
    )
    plan = plans.physical_plan(sim.ivf_assign(df, cents, "embedding"))
    assert "ArrowEvalPython" in plan, plan
    assert "MapInArrow" not in plan, plan


def _cell_pairs_per_pair_expr(df, cents, threshold):
    """The pre-r13 expr plan of ``cell_cosine_pairs``, inlined: in-cell
    self-join + per-pair zip_with dot, the form every SQL oracle
    replays."""
    from pyspark.sql import functions as F

    from mini_etl_spark.functions import similarity as sim

    assigned = sim.ivf_assign(df, cents, "embedding", method="expr")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    b0 = assigned.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__v"),
        F.col("ivf_cell").alias("__cell"),
        norm.alias("__n"),
    )
    a, b = b0.alias("a"), b0.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.__v"), F.col("b.__v"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.__cell") == F.col("b.__cell"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .withColumn("cosine", F.round(dot / (F.col("a.__n") * F.col("b.__n")), 4))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__cell").alias("cell"),
            "cosine",
        )
        .collect()
    )


def test_cell_cosine_pairs_expr_rescore_is_bit_identical(spark):
    """GEMM prefilter + exact rescore == the direct per-pair expression
    join, bit for bit (ids AND cosines)."""
    from mini_etl_spark.functions import similarity as sim

    rng = np.random.default_rng(5)
    # planted near-dup structure so pairs actually pass the threshold
    base_vecs = rng.standard_normal((12, 8))
    rows = []
    vid = 0
    for b in base_vecs:
        for _ in range(6):
            rows.append(
                (vid, [float(x) for x in (b + 0.01 * rng.standard_normal(8))])
            )
            vid += 1
    df = _vec_frame(spark, rows)
    cents = sim.random_unit_centroids(dim=8, k=4, seed=7)

    got = sim.cell_cosine_pairs(
        df, cents, threshold=0.5, method="expr"
    ).collect()

    want = _cell_pairs_per_pair_expr(df, cents, 0.5)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted(map(tuple, got), key=lambda t: t[:2]) == sorted(
        map(tuple, want), key=lambda t: t[:2]
    )
    assert len(want) > 0  # the fixture actually exercises the filter


def test_cell_cosine_pairs_expr_admits_overflow_range_pairs(spark):
    """Vectors whose squared norms overflow double range. Rows 0 and 1:
    the JVM's sequential dot adds ``-1e308 + inf`` (the second product
    overflows on its own), so their exact cosine is ``inf / inf = NaN``,
    which passes the ``>=`` filter; a BLAS dot with fused multiply-add
    stays finite (1.25e308) and scores the pair ``1.25e308 / inf = 0``.
    The prefilter must still admit it; the exact rescore decides."""
    from mini_etl_spark.functions import similarity as sim

    zeros = [0.0] * 6
    rows = [
        (0, [1e154, 1.5e154] + zeros),
        (1, [-1e154, 1.5e154] + zeros),
        (2, [1e154, -1e154] + zeros),
        (3, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),
        (4, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.5]),
        (5, [1e-170, 1e-170] + zeros),
        (6, [0.0] * 8),
    ]
    df = _vec_frame(spark, rows)
    cents = np.full((1, 8), 8 ** -0.5)  # one cell: every pair is scored
    got = sim.cell_cosine_pairs(df, cents, threshold=0.5,
                                method="expr").collect()
    want = _cell_pairs_per_pair_expr(df, cents, 0.5)
    assert sorted(map(repr, map(tuple, got))) == sorted(
        map(repr, map(tuple, want)))  # repr: NaN cosines compare equal
    assert (0, 1) in {(r["id_a"], r["id_b"]) for r in want}


def test_span_postings_drop_df1_spans(spark):
    from pyspark.sql import functions as F

    from mini_etl_spark.functions.dedup import _span_postings

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta other words here"),
            (3, "totally unrelated text with unique spans only"),
        ],
        ["doc_id", "text"],
    )
    spans = _span_postings(docs, 4, "text", "doc_id", 1000)
    rows = spans.collect()
    # doc 3 shares nothing: all its spans are df=1 and must be gone
    assert all(r["__id"] != 3 for r in rows), rows
    # the shared 4-gram postings survive for docs 1 and 2
    assert {r["__id"] for r in rows} == {1, 2}, rows
    # every surviving hash appears in >= 2 docs
    from collections import Counter

    c = Counter(r["__h"] for r in rows)
    assert all(v >= 2 for v in c.values()), c


def test_exact_percentile_guard_falls_back_loudly(spark, monkeypatch):
    from pyspark.sql import functions as F

    from mini_etl_spark import maintenance as mt

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    monkeypatch.setenv("MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES", "1")
    with pytest.warns(UserWarning, match="falling back to percentile_approx"):
        out = mt.quantile_buckets(df, "v", buckets=4)
    assert "qbucket" in out.columns
    with pytest.warns(UserWarning, match="falling back to percentile_approx"):
        mt.robust_outliers(df, "v", group_col="g").collect()


def test_exact_percentile_guard_stays_exact_below_limit(spark, monkeypatch):
    import warnings

    from pyspark.sql import functions as F

    from mini_etl_spark import maintenance as mt

    df = spark.range(1000).select((F.col("id") * 1.5).alias("v"))
    monkeypatch.delenv("MINI_ETL_EXACT_PERCENTILE_LIMIT_BYTES", raising=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = mt.quantile_buckets(df, "v", buckets=4)
    # exact quartile boundaries of 0, 1.5, ..., 1498.5 at scale=100:
    # deterministic check that the exact branch ran
    import collections

    counts = collections.Counter(r["qbucket"] for r in out.collect())
    assert counts == {0: 250, 1: 250, 2: 250, 3: 250}, counts


def test_embedding_gemm_guard_routes_to_lsh(spark, monkeypatch, tmp_path):
    from mini_etl_spark.functions import dedup as dd

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(50)
    ]
    # a parquet scan: the guard needs a credible (file-size) estimate
    _vec_frame(spark, rows).write.parquet(str(tmp_path / "vecs"))
    df = spark.read.parquet(str(tmp_path / "vecs"))
    monkeypatch.setenv("MINI_ETL_EMBED_GEMM_LIMIT_BYTES", "1")
    with pytest.warns(UserWarning, match="Routing .*lsh"):
        out = dd.embedding_cosine_pairs(df, "embedding", "vec_id", 0.95)
    assert out.columns == ["id_a", "id_b", "cosine"]
    monkeypatch.setenv("MINI_ETL_EMBED_GEMM_LIMIT_BYTES", "0")
    # 0 disables the guard entirely
    dd.embedding_cosine_pairs(df, "embedding", "vec_id", 0.95).collect()


def test_estimated_bytes_reads_the_unknown_size_sentinel_as_none(spark):
    from mini_etl_spark.session import estimated_bytes

    unknown = spark.createDataFrame([(i, 1.5 * i) for i in range(1000)],
                                    "g long, v double")
    assert estimated_bytes(unknown) is None
    # a plan over an unknown leaf stays unknown (a join multiplies it)
    assert estimated_bytes(unknown.join(unknown, "g")) is None
    known = estimated_bytes(spark.range(1000))
    assert known is not None and 0 < known < 1024**2


def test_size_guards_keep_the_exact_path_on_an_unknown_estimate(spark):
    """A 1000-row ``createDataFrame`` frame has no statistics: neither
    guard may read the Long.MaxValue sentinel as an oversized input."""
    import warnings

    from mini_etl_spark import maintenance as mt
    from mini_etl_spark.functions import dedup as dd

    df = spark.createDataFrame([(i % 7, 1.5 * i) for i in range(1000)],
                               "g long, v double")
    rng = np.random.default_rng(3)
    vecs = _vec_frame(spark, [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(50)
    ])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert mt._exact_percentile_guarded(df, True, "robust_outliers")
        pairs = dd.embedding_cosine_pairs(vecs, "embedding", "vec_id", 0.95)
    assert "MapInArrow" in plans.physical_plan(pairs)
