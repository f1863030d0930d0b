"""Winnowing fingerprints (operators/fingerprints.py): pure-Python twin
parity, DuckDB-oracle parity on the real corpus, the winnowing
guarantee (shared run >= w+k-1 tokens => shared fingerprint), the
bucket cap, and short-doc edges."""

from __future__ import annotations

import re

from ffi_export_etl_spark.functions.porthash import py_md5_long
from ffi_export_etl_spark.operators.fingerprints import (
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from ffi_export_etl_spark.sources.parquet import load_table
from tests.oracle_utils import compare_to_oracle

K, W = 5, 4


def py_winnow(text: str, k: int = K, w: int = W) -> list[int]:
    toks = re.split(r"\s+", text)
    if len(toks) < k:
        return []
    grams = [
        py_md5_long(" ".join(toks[i : i + k]))
        for i in range(len(toks) - k + 1)
    ]
    sel = {
        min(grams[s : s + w])
        for s in range(max(len(grams) - w + 1, 1))
    }
    return sorted(sel)


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_matches_python_twin(spark):
    rows = [
        (1, _words("a", 20)),
        (2, _words("b", 7)),
        (3, _words("c", 4)),   # < k tokens -> empty
        (4, _words("a", 20)),  # identical to 1 -> identical set
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: list(r["fingerprints"])
        for r in winnow_fingerprints(docs).collect()
    }
    for i, t in rows:
        assert got[i] == py_winnow(t), i
    assert got[3] == [] and got[1] == got[4] and len(got[1]) > 0


def test_winnowing_guarantee_and_overlap_report(spark):
    """The theorem the scheme exists for: a shared verbatim run of
    w + k - 1 tokens forces at least one shared selected fingerprint;
    disjoint docs share none."""
    run = _words("s", W + K - 1)
    rows = [
        (1, f"{_words('a', 12)} {run} {_words('x', 3)}"),
        (2, f"{_words('q', 9)} {run} {_words('z', 7)}"),
        (3, _words("m", 25)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r["id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(docs).collect()
    }
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(
            winnow_fingerprints(docs), min_shared=1
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_bucket_cap_drops_boilerplate_hubs(spark):
    """A fingerprint shared by every doc (boilerplate hub) is dropped
    by the cap before pair expansion — no quadratic blowup, and fully
    disjoint remainders produce no pairs."""
    run = _words("h", W + K - 1)
    rows = [(i, f"{run} {_words(f'u{i}_', 10)}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs)
    assert winnow_overlap_pairs(fps, min_shared=1).count() > 0
    capped = winnow_overlap_pairs(fps, min_shared=1, max_bucket_size=3).count()
    assert capped == 0


def test_overlap_pairs_single_bucket_shuffle(spark):
    """r6 rewrite: the fingerprint table is shuffled ONCE on h (groupBy
    + collect_list; cap check and pair expansion happen inside the
    grouped row) — the exploded self-join paid two shuffles on the same
    key. Pin the plan: exactly one hashpartitioning exchange on h."""
    docs = spark.createDataFrame(
        [(1, _words("a", 20)), (2, _words("a", 20))],
        "doc_id long, text string",
    )
    df = winnow_overlap_pairs(winnow_fingerprints(docs), min_shared=1)
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("hashpartitioning(h#") == 1, plan
    assert "Join" not in plan.split("== Physical Plan ==")[-1], plan
    # and the results still pin: identical docs share everything
    (row,) = df.collect()
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["n_shared"] == len(py_winnow(_words("a", 20)))


def test_matches_duckdb_oracle_on_corpus(spark, sf_small):
    """Parity via the PROMOTED twin (queries/text_q.winnow_sql — the
    same CTE chain the text_langfp_pack gate oracle runs since r6)."""
    from ffi_export_etl_spark.queries.text_q import winnow_sql

    docs = load_table(spark, sf_small, "documents")
    df = winnow_fingerprints(docs).selectExpr(
        "id AS doc_id",
        "array_join(fingerprints, ',') AS fp_csv",
        "n_fingerprints",
    )
    oracle = f"""
        WITH {winnow_sql()}
        SELECT id AS doc_id,
               coalesce(array_to_string(fp, ','), '') AS fp_csv,
               CAST(len(fp) AS INTEGER) AS n_fingerprints
        FROM wsel
    """
    compare_to_oracle(df, oracle, sf_small)
