"""Dashboard-grade HTML run report (monitor.py): metric cards, status
coloring, sparklines, per-pipeline rollup — dependency-free single file."""

from __future__ import annotations

import json

from mini_etl_spark.monitor import history_to_html, history_to_json

HIST = [
    {"name": "p1", "rows": 1000, "errors": 0, "duration": 2.5, "rows_per_second": 400.0},
    {"name": "p1", "rows": 1200, "errors": 0, "duration": 2.1, "rows_per_second": 571.4},
    {"name": "p2", "rows": 0, "errors": 3, "duration": 0.4, "rows_per_second": 0.0},
    {"name": "p1", "rows": 1100, "errors": 0, "duration": 1.9, "rows_per_second": 578.9},
]


def test_html_report_dashboard_surface(tmp_path):
    path = tmp_path / "report.html"
    history_to_html(HIST, str(path), title="demo corpus")
    s = path.read_text()
    # metric cards: totals, success/fail split, rows, time
    assert "total runs" in s and ">4<" in s
    assert "successful" in s and ">3<" in s and "failed" in s
    assert "3,300" in s  # per-pipeline rollup rows for p1
    # sparklines are inline SVG — no JS, no external assets
    assert "polyline" in s and "<script" not in s and "http" not in s
    # status coloring per run row
    assert 'class="ok"' in s and 'class="err"' in s
    # newest-first: the last run's row renders before the first run's
    # (cell-level needles — bare numbers also occur in sparkline labels)
    assert s.index("<td>1.9</td>") < s.index("<td>2.5</td>")


def test_html_report_single_run_and_empty(tmp_path):
    # one run: no sparkline (needs 2+ points), no per-pipeline section
    p1 = tmp_path / "one.html"
    history_to_html(HIST[:1], str(p1))
    s = p1.read_text()
    assert "polyline" not in s and "Per pipeline" not in s
    assert 'class="ok"' in s
    # empty history renders a valid page
    p0 = tmp_path / "zero.html"
    history_to_html([], str(p0))
    assert "<table>" in p0.read_text()


def test_json_twin_roundtrips(tmp_path):
    path = tmp_path / "h.json"
    history_to_json(HIST, str(path))
    assert json.loads(path.read_text()) == HIST


# ---------------------------------------------------------------------------
# distribution_drift (maintenance.py) — the PSI epoch monitor
# ---------------------------------------------------------------------------

def _psi(rows):
    return sum(r["psi_contrib"] for r in rows)


def test_drift_identical_epochs_is_zero(spark):
    from mini_etl_spark import maintenance as mt

    df = spark.range(1000).selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
    rows = mt.distribution_drift(df, df, "v", bins=10).collect()
    assert len(rows) == 10
    assert abs(_psi(rows)) < 1e-12
    assert all(r["count_a"] == r["count_b"] for r in rows)


def test_drift_detects_shift(spark):
    from mini_etl_spark import maintenance as mt

    a = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    b = spark.range(1000).selectExpr("CAST(50 + id % 100 AS DOUBLE) AS v")
    rows = mt.distribution_drift(a, b, "v", bins=10).collect()
    assert _psi(rows) > 0.25  # half the mass moved: well past "shifted"


def test_drift_empty_bin_uses_epsilon_not_nan(spark):
    from mini_etl_spark import maintenance as mt
    import math

    a = spark.range(100).selectExpr("CAST(id % 10 AS DOUBLE) AS v")
    b = spark.range(100).selectExpr("CAST(id % 5 AS DOUBLE) AS v")
    rows = mt.distribution_drift(a, b, "v", bins=10, lo=0.0, hi=10.0).collect()
    assert all(math.isfinite(r["psi_contrib"]) for r in rows)
    # bins 5..9 are empty on the b side but still contribute drift
    assert _psi(rows) > 0.1


def test_drift_constant_column_single_bucket(spark):
    from mini_etl_spark import maintenance as mt

    a = spark.range(10).selectExpr("CAST(7 AS DOUBLE) AS v")
    b = spark.range(30).selectExpr("CAST(7 AS DOUBLE) AS v")
    rows = mt.distribution_drift(a, b, "v").collect()
    assert len(rows) == 1 and rows[0]["bin"] == 0
    assert rows[0]["count_a"] == 10 and rows[0]["count_b"] == 30
    assert abs(rows[0]["psi_contrib"]) < 1e-12  # same (full) fraction each


def test_drift_validation(spark):
    from mini_etl_spark import maintenance as mt
    import pytest as pt

    df = spark.range(5).selectExpr("CAST(id AS DOUBLE) AS v")
    empty = spark.range(0).selectExpr("CAST(id AS DOUBLE) AS v")
    with pt.raises(ValueError, match="bins"):
        mt.distribution_drift(df, df, "v", bins=0)
    with pt.raises(ValueError, match="lo must be <= hi"):
        mt.distribution_drift(df, df, "v", lo=5.0, hi=1.0)
    with pt.raises(ValueError, match="no non-null"):
        mt.distribution_drift(empty, empty, "v")


def test_drift_config_node_report_and_gate(spark, tmp_path):
    """YAML surface: the drift node replaces the frame with the per-bin
    report, and max_psi fails the run loudly on a shifted epoch."""
    from mini_etl_spark.config import ConfigLoader

    base = str(tmp_path / "baseline.parquet")
    spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v").write.parquet(base)
    same = str(tmp_path / "same.parquet")
    spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v").write.parquet(same)
    shifted = str(tmp_path / "shifted.parquet")
    spark.range(1000).selectExpr("CAST(50 + id % 100 AS DOUBLE) AS v").write.parquet(shifted)

    def cfg(src, **extra):
        return {
            "pipeline": {
                "name": "drift_gate",
                "source": {"type": "parquet", "path": src},
                "transformers": [
                    {"type": "drift", "baseline": base, "column": "v", **extra}
                ],
                "sink": {"type": "parquet",
                         "path": str(tmp_path / "report.parquet"), "mode": "w"},
            }
        }

    loader = ConfigLoader()
    loader.build_pipeline(loader.parse(cfg(same, max_psi=0.1))).run(spark)
    report = spark.read.parquet(str(tmp_path / "report.parquet"))
    assert {"bin", "frac_a", "frac_b", "psi_contrib"} <= set(report.columns)

    import pytest as pt
    with pt.raises(ValueError, match="exceeds max_psi"):
        loader.build_pipeline(loader.parse(cfg(shifted, max_psi=0.1))).run(spark)


def test_drift_config_node_gate_ignores_batch_outlier(spark, tmp_path):
    """The gate bins over the BASELINE's range, as stream_drift_gate
    does: one far outlier row in the new epoch must not stretch the
    range until the shifted epoch lands in one bin and passes."""
    from mini_etl_spark.config import ConfigLoader

    base = str(tmp_path / "baseline.parquet")
    spark.range(2000).selectExpr("id / 2000.0 AS v").write.parquet(base)
    shifted = str(tmp_path / "shifted.parquet")
    spark.range(2000).selectExpr("id / 2000.0 + 0.5 AS v").union(
        spark.range(1).selectExpr("1000.0 AS v")
    ).write.parquet(shifted)
    cfg = {
        "pipeline": {
            "name": "drift_outlier",
            "source": {"type": "parquet", "path": shifted},
            "transformers": [{"type": "drift", "baseline": base,
                              "column": "v", "max_psi": 0.25}],
            "sink": {"type": "parquet",
                     "path": str(tmp_path / "report.parquet"), "mode": "w"},
        }
    }
    import pytest as pt

    loader = ConfigLoader()
    with pt.raises(ValueError, match="exceeds max_psi"):
        loader.build_pipeline(loader.parse(cfg)).run(spark)


def test_drift_gate_leaves_nothing_cached(spark, tmp_path):
    """The gated drift node must not leak cached blocks into a
    long-lived session — on the pass path NOR the raise path (the
    report is collected once and re-created locally, never persisted)."""
    from mini_etl_spark.config import ConfigLoader

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = str(tmp_path / "baseline.parquet")
    spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v").write.parquet(base)
    same = str(tmp_path / "same.parquet")
    spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v").write.parquet(same)
    shifted = str(tmp_path / "shift.parquet")
    spark.range(1000).selectExpr("CAST(50 + id % 100 AS DOUBLE) AS v").write.parquet(shifted)

    def cfg(src):
        return {
            "pipeline": {
                "name": "drift_nocache",
                "source": {"type": "parquet", "path": src},
                "transformers": [
                    {"type": "drift", "baseline": base, "column": "v",
                     "max_psi": 0.1}
                ],
                "sink": {"type": "parquet",
                         "path": str(tmp_path / "rep.parquet"), "mode": "w"},
            }
        }

    import pytest as pt

    loader = ConfigLoader()
    before = n_cached()
    loader.build_pipeline(loader.parse(cfg(same))).run(spark)
    assert n_cached() == before
    with pt.raises(ValueError, match="exceeds max_psi"):
        loader.build_pipeline(loader.parse(cfg(shifted))).run(spark)
    assert n_cached() == before


# ---------------------------------------------------------------------------
# category_drift (maintenance.py) — the categorical-PSI epoch monitor
# ---------------------------------------------------------------------------

def test_category_drift_identical_epochs_is_zero(spark):
    from mini_etl_spark import maintenance as mt

    df = spark.range(300).selectExpr("CAST(id % 3 AS STRING) AS src")
    rows = mt.category_drift(df, df, "src").collect()
    assert len(rows) == 3
    assert abs(_psi(rows)) < 1e-12
    assert all(r["count_a"] == r["count_b"] for r in rows)


def test_category_drift_detects_mix_shift_and_vanished_value(spark):
    from mini_etl_spark import maintenance as mt

    a = spark.createDataFrame(
        [("web",)] * 50 + [("books",)] * 40 + [("code",)] * 10, ["src"]
    )
    b = spark.createDataFrame(
        [("web",)] * 90 + [("books",)] * 10, ["src"]
    )
    rows = mt.category_drift(a, b, "src").collect()
    by_val = {r["value"]: r for r in rows}
    # "code" vanished in epoch b: epsilon guard, still contributes drift
    assert by_val["code"]["count_b"] == 0
    assert by_val["code"]["psi_contrib"] > 0
    assert _psi(rows) > 0.25


def test_category_drift_top_k_folds_other(spark):
    from mini_etl_spark import maintenance as mt

    # 50 distinct values; top_k=5 -> 5 named rows + one __other__
    df = spark.range(1000).selectExpr("CAST(id % 50 AS STRING) AS v")
    rows = mt.category_drift(df, df, "v", top_k=5).collect()
    assert len(rows) == 6
    vals = {r["value"] for r in rows}
    assert "__other__" in vals
    other = next(r for r in rows if r["value"] == "__other__")
    assert other["count_a"] == 1000 - sum(
        r["count_a"] for r in rows if r["value"] != "__other__"
    )
    # fractions are over FULL totals: report fractions sum to 1
    assert abs(sum(r["frac_a"] for r in rows) - 1.0) < 1e-9


def test_category_drift_deterministic_tiebreak(spark):
    from mini_etl_spark import maintenance as mt

    # all values equally frequent: top_k picks lexically smallest
    df = spark.range(100).selectExpr("CAST(id % 10 AS STRING) AS v")
    rows = mt.category_drift(df, df, "v", top_k=3).collect()
    named = sorted(r["value"] for r in rows if r["value"] != "__other__")
    assert named == ["0", "1", "2"]


def test_category_drift_validation(spark):
    from mini_etl_spark import maintenance as mt
    import pytest as pt

    df = spark.createDataFrame([("a",)], ["v"])
    nulls = spark.createDataFrame([(None,)], "v string")
    with pt.raises(ValueError, match="top_k"):
        mt.category_drift(df, df, "v", top_k=0)
    with pt.raises(ValueError, match="no non-null"):
        mt.category_drift(nulls, nulls, "v")


def test_drift_config_node_categorical_gate(spark, tmp_path):
    from mini_etl_spark.config import ConfigLoader
    import pytest as pt

    base = str(tmp_path / "base.parquet")
    spark.range(100).selectExpr("CAST(id % 4 AS STRING) AS src").write.parquet(base)
    shifted = str(tmp_path / "shifted.parquet")
    spark.range(100).selectExpr("'only_one' AS src").write.parquet(shifted)

    def cfg(src, **extra):
        return {
            "pipeline": {
                "name": "cat_drift",
                "source": {"type": "parquet", "path": src},
                "transformers": [
                    {"type": "drift", "baseline": base, "column": "src",
                     "mode": "categorical", **extra}
                ],
                "sink": {"type": "parquet",
                         "path": str(tmp_path / "rep.parquet"), "mode": "w"},
            }
        }

    loader = ConfigLoader()
    loader.build_pipeline(loader.parse(cfg(base, max_psi=0.1))).run(spark)
    rep = spark.read.parquet(str(tmp_path / "rep.parquet"))
    assert {"value", "frac_a", "frac_b", "psi_contrib"} <= set(rep.columns)
    with pt.raises(ValueError, match="exceeds max_psi"):
        loader.build_pipeline(loader.parse(cfg(shifted, max_psi=0.1))).run(spark)
    with pt.raises(ValueError, match="mode must be"):
        loader.build_pipeline(
            loader.parse(cfg(base, mode="nope"))
        )


def test_category_drift_max_distinct_guard(spark):
    """Corpus-cardinality misuse fails loudly BEFORE the distinct-value
    join materializes: a doc-id-like column trips the approximate
    distinct guard; the bounded case is untouched and the guard can be
    raised or disabled deliberately."""
    import pytest as pt

    from mini_etl_spark import maintenance as mt

    ids = spark.range(20000).selectExpr("CAST(id AS STRING) AS v")
    with pt.raises(ValueError, match="max_distinct"):
        mt.category_drift(ids, ids, "v", max_distinct=1000)
    # explicit opt-outs still run (the fold bounds the REPORT regardless)
    rows = mt.category_drift(ids, ids, "v", top_k=3, max_distinct=None)
    assert rows.count() == 4
    rows2 = mt.category_drift(ids, ids, "v", top_k=3, max_distinct=50_000)
    assert rows2.count() == 4


def test_category_drift_other_sentinel_collision(spark):
    """A REAL '__other__' category raises when a fold row would also be
    emitted (one row per reported value is the contract); with no fold
    (top_k covers the cardinality) the real value passes through
    unambiguously."""
    import pytest as pt

    from mini_etl_spark import maintenance as mt

    df = spark.createDataFrame(
        [("__other__",)] * 5 + [("a",)] * 3 + [("b",)] * 2 + [("c",)] * 1,
        ["v"],
    )
    with pt.raises(ValueError, match="__other__"):
        mt.category_drift(df, df, "v", top_k=2)
    # no fold -> no ambiguity: the real value is reported as itself
    rows = mt.category_drift(df, df, "v", top_k=10).collect()
    by_val = {r["value"]: r for r in rows}
    assert len(rows) == 4 and by_val["__other__"]["count_a"] == 5


def test_drift_config_node_max_distinct_passthrough(spark, tmp_path):
    """The YAML drift node threads max_distinct through to
    category_drift: a low explicit limit trips the guard, None disables
    it for the same column."""
    import pytest as pt

    from mini_etl_spark.config import ConfigLoader

    base = str(tmp_path / "base.parquet")
    spark.range(3000).selectExpr("CAST(id AS STRING) AS v").write.parquet(base)

    def cfg(md):
        return {
            "pipeline": {
                "name": "md",
                "source": {"type": "parquet", "path": base},
                "transformers": [
                    {"type": "drift", "baseline": base, "column": "v",
                     "mode": "categorical", "top_k": 3,
                     "max_distinct": md}
                ],
                "sink": {"type": "parquet",
                         "path": str(tmp_path / "rep.parquet"), "mode": "w"},
            }
        }

    loader = ConfigLoader()
    with pt.raises(ValueError, match="max_distinct"):
        loader.build_pipeline(loader.parse(cfg(100))).run(spark)
    loader.build_pipeline(loader.parse(cfg(None))).run(spark)
    assert spark.read.parquet(str(tmp_path / "rep.parquet")).count() == 4
