"""k-anonymity (functions.privacy): suppress/generalize semantics, NULL QI
handling, the audit report, and the broadcast plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_etl_spark import plans
from mini_etl_spark.functions.privacy import k_anonymize, k_anonymity_report

ROWS = [
    # (id, zip, age_band, payload) — zip/age are the quasi-identifiers
    (1, "94103", "30-39", "a"),
    (2, "94103", "30-39", "b"),
    (3, "94103", "30-39", "c"),
    (4, "10001", "40-49", "d"),
    (5, "10001", "40-49", "e"),
    (6, "60601", "20-29", "f"),       # singleton → identifying
    (7, None, "20-29", "g"),          # NULL QI combo, seen once → identifying
]
QI = ["zip", "age_band"]


def _df(spark):
    return spark.createDataFrame(ROWS, "id int, zip string, age_band string, payload string")


def test_suppress_drops_under_k_groups(spark):
    out = k_anonymize(_df(spark), QI, k=2, method="suppress")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4, 5]


def test_suppress_k3(spark):
    out = k_anonymize(_df(spark), QI, k=3, method="suppress")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_generalize_nulls_qi_keeps_payload(spark):
    out = k_anonymize(_df(spark), QI, k=2, method="generalize")
    rows = {r["id"]: (r["zip"], r["age_band"], r["payload"]) for r in out.collect()}
    assert len(rows) == 7  # nothing dropped
    assert rows[6] == (None, None, "f")
    assert rows[7] == (None, None, "g")
    assert rows[1] == ("94103", "30-39", "a")  # k-satisfying groups untouched


def test_null_qi_combination_counts_as_value(spark):
    # two rows sharing the same NULL-containing combo satisfy k=2
    df = _df(spark).union(
        _df(spark).sparkSession.createDataFrame(
            [(8, None, "20-29", "h")], "id int, zip string, age_band string, payload string"
        )
    )
    out = k_anonymize(df, QI, k=2, method="suppress")
    ids = sorted(r["id"] for r in out.collect())
    assert 7 in ids and 8 in ids and 6 not in ids


def test_report(spark):
    rep = k_anonymity_report(_df(spark), QI, k=2).first()
    assert rep["total_rows"] == 7
    assert rep["group_count"] == 4
    assert rep["min_group_size"] == 1
    assert rep["under_k_groups"] == 2
    assert rep["under_k_rows"] == 2


def test_invalid_args(spark):
    with pytest.raises(ValueError):
        k_anonymize(_df(spark), QI, k=0)
    with pytest.raises(ValueError):
        k_anonymize(_df(spark), ["nope"], k=2)
    with pytest.raises(ValueError):
        k_anonymize(_df(spark), QI, k=2, method="other")


def test_broadcast_join_shape(spark):
    # the under-k list must broadcast
    assert plans.signature(k_anonymize(_df(spark), QI, k=2))["BroadcastHashJoin"]


def test_l_diversity_report(spark):
    """Homogeneity detection: a large group with one sensitive value is
    NOT l-diverse; NULL sensitive counts as one disclosure class."""
    from mini_etl_spark.functions.privacy import l_diversity_report

    rows = (
        [(i, "a", "flu") for i in range(10)]            # big but homogeneous
        + [(100, "b", "flu"), (101, "b", "cold"), (102, "b", None)]
        + [(200, "c", None), (201, "c", None)]
    )
    df = spark.createDataFrame(rows, "id long, zip string, dx string")
    out = {r.zip: r for r in l_diversity_report(df, ["zip"], "dx", l=2).collect()}
    assert (out["a"].group_size, out["a"].n_sensitive_values, out["a"].l_diverse) == (10, 1, False)
    assert (out["b"].n_sensitive_values, out["b"].l_diverse) == (3, True)
    assert (out["c"].n_sensitive_values, out["c"].l_diverse) == (1, False)
    import pytest as _p
    with _p.raises(ValueError, match="quasi_identifiers"):
        l_diversity_report(df, [], "dx")
