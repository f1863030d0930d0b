"""operators/validate.py — single-pass data-quality constraint suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.validate import CheckSuite, format_failures


def _report(df, suite):
    return {r["check"]: r.asDict() for r in suite.run(df).collect()}


def test_row_checks_count_violations(spark):
    df = spark.createDataFrame(
        [(1, "en", 10), (2, None, -3), (3, "xx", 10), (None, "de", 999)],
        "id bigint, lang string, n bigint",
    )
    rep = _report(
        df,
        CheckSuite()
        .not_null("id")
        .not_null("lang")
        .in_range("n", 0, 100)
        .accepted_values("lang", ["en", "de", "fr"])
        .matches("lang", "^[a-z]{2}$"),
    )
    assert rep["not_null:id"]["n_violations"] == 1
    assert not rep["not_null:id"]["passed"]
    assert rep["not_null:lang"]["n_violations"] == 1
    # -3 out of range, 999 out of range => 2 violations
    assert rep["in_range:n"]["n_violations"] == 2
    # None and "xx" both violate accepted_values (NULL counts as violation)
    assert rep["accepted_values:lang"]["n_violations"] == 2
    # "xx" matches the regex; only NULL violates
    assert rep["matches:lang"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in rep.values())


def test_unique_and_min_rows(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "id bigint, k string"
    )
    rep = _report(
        df,
        CheckSuite()
        .unique("id")
        .unique("k")  # 3 non-null, 2 distinct -> 1 violation
        .min_rows(4)
        .min_rows(10),
    )
    assert rep["unique:id"]["passed"]
    assert rep["unique:k"]["n_violations"] == 1 and not rep["unique:k"]["passed"]
    assert rep["min_rows:4"]["passed"]
    assert rep["min_rows:10"]["n_violations"] == 6
    assert not rep["min_rows:10"]["passed"]


def test_null_fraction_micro_math(spark):
    # 1 null of 4 rows = 25%: passes at 25%, fails at 24.9999%
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, None)], "id bigint, v string"
    )
    ok = _report(df, CheckSuite().null_fraction_at_most("v", 0.25))
    assert ok["null_fraction:v"]["passed"]
    bad = _report(df, CheckSuite().null_fraction_at_most("v", 0.249999))
    assert not bad["null_fraction:v"]["passed"]


def test_satisfies_and_thresholds(spark):
    df = spark.createDataFrame(
        [("abc", 3), ("de", 2), ("fgh", 99)], "text string, n bigint"
    )
    rep = _report(
        df,
        CheckSuite()
        .satisfies("len_consistent", F.col("n") == F.length("text"),
                   column="n")
        .satisfies("n_positive", F.col("n") > 0, column="n"),
    )
    assert rep["len_consistent"]["n_violations"] == 1
    assert rep["len_consistent"]["threshold"] == 0
    assert not rep["len_consistent"]["passed"]  # no violation allowed
    assert rep["n_positive"]["passed"]


def test_empty_frame_and_empty_suite(spark):
    df = spark.createDataFrame([], "id bigint")
    rep = _report(
        df, CheckSuite().not_null("id").unique("id").min_rows(1)
    )
    assert rep["not_null:id"]["n_violations"] == 0
    assert rep["not_null:id"]["passed"]
    assert rep["unique:id"]["n_violations"] == 0
    assert rep["min_rows:1"]["n_violations"] == 1
    assert not rep["min_rows:1"]["passed"]
    with pytest.raises(ValueError, match="no checks"):
        CheckSuite().run(df)


def test_duplicate_names_rejected(spark):
    with pytest.raises(ValueError, match="duplicate"):
        CheckSuite().not_null("a").not_null("a")


def test_single_scan_plan(spark):
    """All row checks compile into ONE aggregate over ONE scan —
    no per-check jobs. unique() adds Catalyst's expand, so keep the
    no-unique suite's plan to a single Aggregate pair."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("m")
    )
    plan = (
        CheckSuite()
        .not_null("id").in_range("m", 0, 6).min_rows(1)
        .run(df)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") <= 2  # partial+final pair, one scan
    assert plan.count("Range") == 1


def test_format_failures_names_failed_checks(spark):
    df = spark.createDataFrame([(1,), (1,)], "id bigint")
    msg = format_failures(CheckSuite().unique("id").run(df).collect())
    assert msg == (
        "data-quality checks failed: unique:id (1 violations of 2 rows)"
    )
    # a passing suite has no message
    assert format_failures(CheckSuite().not_null("id").run(df).collect()) is None


def test_documents_suite(spark, sf_oracle):
    """The suite a curation pipeline would gate the corpus on."""
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    rep = _report(
        docs,
        CheckSuite()
        .not_null("doc_id")
        .unique("doc_id")
        .in_range("n_chars", 1, 1_000_000)
        .matches("lang", "^[a-z]{2}$")
        .satisfies("n_chars_is_len", F.col("n_chars") == F.length("text"),
                   column="n_chars")
        .null_fraction_at_most("text", 0.01)
        .min_rows(100),
    )
    assert all(r["passed"] for r in rep.values()), rep


def test_grouped_report_per_source(spark):
    """run(df, by=['source']): one report per group, thresholds applied
    per group (min_rows catches the thin source)."""
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, None), ("a", 3, "y"), ("b", 4, "z")],
        "source string, id bigint, v string",
    )
    rep = {
        (r["source"], r["check"]): r.asDict()
        for r in CheckSuite()
        .not_null("v")
        .min_rows(2)
        .run(df, by=["source"])
        .collect()
    }
    assert rep[("a", "not_null:v")]["n_violations"] == 1
    assert rep[("a", "not_null:v")]["n_rows"] == 3
    assert rep[("b", "not_null:v")]["n_violations"] == 0
    assert rep[("a", "min_rows:2")]["passed"]
    assert not rep[("b", "min_rows:2")]["passed"]
    assert rep[("b", "min_rows:2")]["n_violations"] == 1
    cols = CheckSuite().not_null("v").run(df, by=["source"]).columns
    assert cols[0] == "source" and "check" in cols


def test_profile_drift_reasons(spark):
    """operators/profile.py profile_drift: added/removed columns,
    null-rate jumps, cardinality collapapse, and row-volume swings are
    flagged; pure min/max movement is informational only."""
    from ffi_export_etl_spark.operators.profile import (
        profile_drift,
        profile_table,
    )

    old = spark.createDataFrame(
        [(i, f"u{i}", "x") for i in range(100)], "id bigint, u string, gone string"
    )
    # new: 'gone' dropped, 'fresh' added, u collapses to 2 values,
    # id range extends (minmax only), row volume x3, u gains 40% nulls
    new = spark.createDataFrame(
        [
            (i, (None if i % 10 < 4 else f"v{i % 2}"), "y")
            for i in range(300)
        ],
        "id bigint, u string, fresh string",
    )
    rep = {
        r["column"]: r.asDict()
        for r in profile_drift(
            profile_table(old), profile_table(new)
        ).collect()
    }
    assert rep["gone"]["drift_reasons"] == ["removed"]
    assert rep["gone"]["drifted"]
    assert rep["fresh"]["drift_reasons"] == ["added"]
    assert "null_frac" in rep["u"]["drift_reasons"]
    assert "cardinality" in rep["u"]["drift_reasons"]
    assert "row_volume" in rep["u"]["drift_reasons"]
    assert rep["u"]["drifted"]
    # id: row_volume + minmax move, but minmax alone never sets drifted
    assert "minmax" in rep["id"]["drift_reasons"]
    assert rep["id"]["minmax_changed"]
    # id's distinct count tripled ONLY because rows tripled — the
    # row-normalized ratio is 1, so no cardinality flag
    assert "cardinality" not in rep["id"]["drift_reasons"]

    # identical snapshots: nothing drifts
    same = profile_drift(profile_table(old), profile_table(old)).collect()
    assert all(not r["drifted"] and r["drift_reasons"] == [] for r in same)

    # all-NULL -> valued transition is a null-safe minmax change
    o2 = spark.createDataFrame([(i, None) for i in range(10)],
                               "id bigint, score string")
    n2 = spark.createDataFrame([(i, str(i)) for i in range(10)],
                               "id bigint, score string")
    rep2 = {
        r["column"]: r.asDict()
        for r in profile_drift(profile_table(o2), profile_table(n2)).collect()
    }
    assert rep2["score"]["minmax_changed"]
    assert "minmax" in rep2["score"]["drift_reasons"]
