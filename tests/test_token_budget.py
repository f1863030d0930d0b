"""token_budget_sample (operators/sampling.py): deterministic per-source
token-budget mixture sampling with a DuckDB window-replay oracle."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.functions.porthash import duck_md5_long
from ffi_export_etl_spark.operators.sampling import (
    NULL_KEY_SENTINEL,
    token_budget_sample,
)
from ffi_export_etl_spark.sources.parquet import load_table


def _docs(spark, sf_oracle):
    return load_table(spark, sf_oracle, "documents").select(
        "doc_id", "source", F.size(F.split("text", r"\s+")).alias("n_tok")
    )


BUDGETS = {"src0": 700, "src1": 300, "src2": 0}


def _spark_kept(spark, sf_oracle, budgets=BUDGETS):
    out = token_budget_sample(
        _docs(spark, sf_oracle), "doc_id", "source", "n_tok", budgets
    )
    return {r["doc_id"] for r in out.collect()}


def _duck_kept(sf_oracle, budgets=BUDGETS):
    h = duck_md5_long(
        f"coalesce(CAST(doc_id AS VARCHAR), '{NULL_KEY_SENTINEL}')", 15
    )
    whens = " ".join(
        f"WHEN '{g}' THEN {b}" for g, b in sorted(budgets.items())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_oracle}/documents.parquet'"
    )
    rows = con.execute(f"""
        WITH t AS (
            SELECT doc_id, source,
                   len(list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> TRUE)) AS n_tok,
                   {h} AS h
            FROM documents
        ), c AS (
            SELECT doc_id, source, n_tok,
                   sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tok AS cum_before
            FROM t
        )
        SELECT doc_id FROM c
        WHERE cum_before < (CASE source {whens} ELSE 0 END)
    """).fetchall()
    return {r[0] for r in rows}


def test_matches_duckdb_window_replay(spark, sf_oracle):
    assert _spark_kept(spark, sf_oracle) == _duck_kept(sf_oracle)


def test_budget_respected_with_bounded_overshoot(spark, sf_oracle):
    out = token_budget_sample(
        _docs(spark, sf_oracle), "doc_id", "source", "n_tok", BUDGETS
    )
    totals = {
        r["source"]: (r["tot"], r["mx"])
        for r in out.groupBy("source")
        .agg(F.sum("n_tok").alias("tot"), F.max("n_tok").alias("mx"))
        .collect()
    }
    # every kept doc started strictly inside the budget, so the total
    # can exceed it by less than one (the largest) document
    for src, (tot, mx) in totals.items():
        assert tot - mx < BUDGETS[src]
    # a zero budget keeps nothing; sources without a budget keep nothing
    assert "src2" not in totals and set(totals) == {"src0", "src1"}


def test_budgets_nest(spark, sf_oracle):
    small = _spark_kept(spark, sf_oracle, {"src0": 300})
    big = _spark_kept(spark, sf_oracle, {"src0": 1200})
    assert small <= big and len(small) < len(big)


def test_block_count_invariance_and_partitioning(spark, sf_oracle):
    """The block decomposition is exact: the kept set equals the
    DuckDB single-window replay (no blocks at all) and does not move
    with the input's partitioning."""
    base = _spark_kept(spark, sf_oracle)
    assert base == _duck_kept(sf_oracle)
    docs = _docs(spark, sf_oracle).repartition(13)
    repart = {
        r["doc_id"]
        for r in token_budget_sample(
            docs, "doc_id", "source", "n_tok", BUDGETS
        ).collect()
    }
    assert base == repart


def test_curation_pipeline_with_budgets(spark, sf_oracle):
    """curate_documents(token_budgets=...) bounds each source's output
    tokens (by the effective n_words measure) with one-doc overshoot."""
    from ffi_export_etl_spark.plans.curation import (
        curate_documents,
        release_curation_caches,
    )

    docs = load_table(spark, sf_oracle, "documents")
    out = curate_documents(
        docs, min_words=5, token_budgets={"src0": 300, "src1": 150}
    )
    stats = {
        r["source"]: (r["tot"], r["mx"])
        for r in out.groupBy("source")
        .agg(F.sum("n_words").alias("tot"), F.max("n_words").alias("mx"))
        .collect()
    }
    release_curation_caches(out)
    assert set(stats) <= {"src0", "src1"} and stats
    for src, (tot, mx) in stats.items():
        assert tot - mx < {"src0": 300, "src1": 150}[src]


def test_null_group_budgets_at_default(spark):
    """NULL-group rows keep nothing, like any other source without a
    budget, and a named group beside them keeps its own budget."""
    docs = spark.createDataFrame(
        [(1, None, 5), (2, None, 5), (3, "web", 5)],
        "doc_id: long, source: string, n_tok: long",
    )
    kept_none = {
        r["doc_id"]
        for r in token_budget_sample(
            docs, "doc_id", "source", "n_tok", {"web": 100},
        ).collect()
    }
    assert kept_none == {3}


def test_default_budget_and_validation(spark, sf_oracle):
    # no budgets: every source is unnamed and budgets at 0
    assert _spark_kept(spark, sf_oracle, {}) == set()
    with pytest.raises(ValueError, match=">= 0"):
        token_budget_sample(
            _docs(spark, sf_oracle), "doc_id", "source", "n_tok",
            {"src0": -1},
        )

def test_temperature_mixture_rates_numpy_twin(spark):
    """alpha-mixing math vs a numpy twin; alpha<1 up-weights small
    sources; alpha=1 is the natural distribution."""
    import numpy as np
    from pyspark.sql import functions as F

    from ffi_export_etl_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    sizes = {"big": 800, "mid": 150, "tiny": 50}
    rows = [
        (f"{s}_{i}", s) for s, n in sizes.items() for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {
        r["source"]: r.asDict()
        for r in temperature_mixture_rates(df, alpha=0.5).collect()
    }
    w = {s: np.sqrt(n) for s, n in sizes.items()}
    wsum = sum(w[s] for s in sorted(sizes))
    n_total = sum(sizes.values())
    for s, n in sizes.items():
        q = w[s] / wsum
        assert got[s]["n_docs"] == n
        assert got[s]["mix_prob"] == pytest.approx(q, rel=1e-12)
        assert got[s]["sample_rate"] == pytest.approx(
            min(1.0, n_total * q / n), rel=1e-12
        )
    # alpha=0.5 shifts mass toward the small source vs natural share
    assert got["tiny"]["mix_prob"] > sizes["tiny"] / n_total
    assert got["big"]["mix_prob"] < sizes["big"] / n_total
    # alpha=1: mix_prob == natural share, every rate 1.0 at full budget
    nat = {
        r["source"]: r.asDict()
        for r in temperature_mixture_rates(df, alpha=1.0).collect()
    }
    for s, n in sizes.items():
        assert nat[s]["mix_prob"] == pytest.approx(n / n_total, rel=1e-12)
        assert nat[s]["sample_rate"] == pytest.approx(1.0)


def test_temperature_sample_expected_counts(spark):
    """Realized per-source counts track budget * mix_prob (hash-Bernoulli
    tolerance); NULL sources are dropped by contract."""
    from pyspark.sql import functions as F

    from ffi_export_etl_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_sample,
    )

    rows = [(f"d{i}", "big" if i < 1600 else "small") for i in range(2000)]
    rows.append(("nullrow", None))
    df = spark.createDataFrame(rows, "doc_id string, source string")
    budget = 1000
    kept = temperature_sample(df, "doc_id", total_budget=budget)
    rates = {
        r["source"]: r.asDict()
        for r in temperature_mixture_rates(
            df.filter(F.col("source").isNotNull()), alpha=0.5
        ).collect()
    }
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert None not in by_src
    for s in ("big", "small"):
        expect = budget * rates[s]["mix_prob"]
        assert abs(by_src[s] - expect) < 0.15 * expect + 10, (s, by_src)
