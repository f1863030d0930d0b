"""compact_warehouse (sinks/files.py): fold the parquet warehouse's
per-batch append files into sized files — rows preserved exactly,
idempotent, schema-evolved appends merged. Its crash windows are in
the fault matrix (test_fold_faults.py), with the generation fold's."""

from __future__ import annotations

import os
import shutil

import pytest

from ffi_export_etl_spark.sinks.files import (
    _staging_paths,
    compact_warehouse,
    parquet_upsert,
)


def _n_parts(d: str) -> int:
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def _rows(spark, d: str) -> list[str]:
    df = spark.read.option("mergeSchema", "true").parquet(d)
    return sorted(map(str, df.select(*sorted(df.columns)).collect()))


@pytest.fixture()
def warehouse(spark, tmp_path):
    """A warehouse dir with one table grown by 4 upsert batches (each
    appends its own small files) plus a ledger file that must never be
    treated as a table."""
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    for batch in range(4):
        df = spark.createDataFrame(
            [(batch * 10 + i, f"v{batch}_{i}") for i in range(5)],
            "k int, v string",
        ).repartition(3)
        parquet_upsert(spark, df, os.path.join(wh, "T"), ["k"])
    with open(os.path.join(wh, "_processed.jsonl"), "w") as f:
        f.write('{"file": "x.xml", "ts": 0}\n')
    return wh


def test_compact_preserves_rows_and_is_idempotent(spark, warehouse):
    t = os.path.join(warehouse, "T")
    before_rows = _rows(spark, t)
    before_files = _n_parts(t)
    assert before_files >= 4  # one file set per batch accumulated

    out = compact_warehouse(spark, warehouse, min_files=2)
    assert out["T"]["action"] == "compacted"
    assert out["T"]["files_before"] == before_files
    assert out["T"]["files_after"] < before_files
    assert out["T"]["rows"] == 20
    assert _rows(spark, t) == before_rows
    # no residue from the swap
    assert not any(os.path.isdir(p) for p in _staging_paths(t))

    # rerun: already folded below min_files -> reported skip, untouched
    again = compact_warehouse(spark, warehouse, min_files=2)
    assert again["T"]["action"] == "skipped"
    assert _rows(spark, t) == before_rows
    # the ledger is not a table
    assert "_processed.jsonl" not in out and "_processed.jsonl" not in again


def test_compact_upsert_roundtrip(spark, warehouse):
    """The fold must be invisible to the loader: an upsert replaying an
    already-loaded batch after compaction still merges to zero."""
    t = os.path.join(warehouse, "T")
    compact_warehouse(spark, warehouse, min_files=2)
    replay = spark.createDataFrame(
        [(0, "v0_0"), (1, "SHOULD_NOT_LAND")], "k int, v string"
    )
    assert parquet_upsert(spark, replay, t, ["k"]) == 0
    fresh = spark.createDataFrame([(999, "new")], "k int, v string")
    assert parquet_upsert(spark, fresh, t, ["k"]) == 1


def test_compact_merges_evolved_schemas(spark, tmp_path):
    """Append batches that widened the column set fold into one table
    whose absent columns read NULL — exactly what the upsert path's
    mergeSchema readers saw before the fold."""
    wh = str(tmp_path / "wh")
    t = os.path.join(wh, "E")
    os.makedirs(t)
    spark.createDataFrame([(1, "a")], "k int, v string").repartition(
        2
    ).write.mode("append").parquet(t)
    spark.createDataFrame(
        [(2, "b", "extra")], "k int, v string, w string"
    ).repartition(2).write.mode("append").parquet(t)
    before = _rows(spark, t)
    out = compact_warehouse(spark, wh, min_files=2)
    assert out["E"]["action"] == "compacted"
    assert out["E"]["rows"] == 2
    assert _rows(spark, t) == before
    cols = set(spark.read.parquet(t).columns)
    assert cols == {"k", "v", "w"}


def test_partitioned_staging_invisible_to_whole_table_readers(
    spark, tmp_path
):
    """ADVICE r10 (medium): a hive-partitioned table mid-fold (or with
    unrepaired crash residue) must still read correctly as a WHOLE
    table — the dot-prefixed staging names are skipped by
    Spark's listing, so no duplicate rows, no partition-type widening
    to string, and partition-pruning filters keep working."""
    wh = str(tmp_path / "wh")
    t = os.path.join(wh, "P")
    for b in range(2):
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{i}", i % 2) for i in range(6)],
            "k int, v string, cell int",
        )
        df.repartition(2).write.mode("append").partitionBy("cell").parquet(t)
    before = _rows(spark, t)
    # mid-fold state for partition cell=0: a staged tmp copy AND an old
    # copy sitting inside the TABLE dir under the new naming
    shutil.copytree(
        os.path.join(t, "cell=0"), os.path.join(t, ".compact_tmp.cell=0")
    )
    shutil.copytree(
        os.path.join(t, "cell=0"), os.path.join(t, ".compact_old.cell=0")
    )
    df = spark.read.parquet(t)
    assert dict(df.dtypes)["cell"] == "int"     # not widened to string
    assert _rows(spark, t) == before            # no duplicate rows
    from pyspark.sql import functions as F

    assert df.filter(F.col("cell").isin([0])).count() == 6
    # and the next fold clears the residue without reading it as data
    out = compact_warehouse(spark, wh, min_files=1)
    assert out["P"]["rows"] == 12
    assert _rows(spark, t) == before
    assert not os.path.isdir(os.path.join(t, ".compact_tmp.cell=0"))
    assert not os.path.isdir(os.path.join(t, ".compact_old.cell=0"))


def test_explicit_tables_and_min_files(spark, warehouse, tmp_path):
    t = os.path.join(warehouse, "T")
    n = _n_parts(t)
    out = compact_warehouse(
        spark, warehouse, tables=["T"], min_files=n + 1
    )
    assert out["T"]["action"] == "skipped"
    assert _n_parts(t) == n


def test_warehouse_maintain_cli(spark, warehouse):
    """CLI form prints one JSON line with the per-table report."""
    import json
    import subprocess
    import sys

    p = subprocess.run(
        [sys.executable, "-m", "ffi_export_etl_spark",
         "warehouse-maintain", "--warehouse", warehouse,
         "--min-files", "2"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert p.returncode == 0, p.stderr[-2000:]
    report = json.loads(p.stdout.strip().splitlines()[-1])
    assert report["T"]["action"] == "compacted"
    assert report["T"]["rows"] == 20


# ---- property sweep: arbitrary append-batch histories fold losslessly


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# each batch: (n_rows, has_extra_col, write_partitions)
_BATCH = st.tuples(
    st.integers(min_value=0, max_value=6),
    st.booleans(),
    st.integers(min_value=1, max_value=3),
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_BATCH, min_size=1, max_size=4), st.booleans())
def test_compact_property_lossless_any_history(spark, tmp_path_factory,
                                               batches, partitioned):
    """For ANY append history — varying batch sizes (including empty
    appends), schema widening mid-history, varying file counts, flat or
    hive-partitioned layout — the fold preserves the exact row multiset
    and a second fold is a no-op."""
    wh = str(tmp_path_factory.mktemp("prop"))
    t = os.path.join(wh, "T")
    base = 0
    wrote_any = False
    for n, extra, parts in batches:
        if n == 0:
            continue
        rows = [
            (base + i, f"v{base + i}", f"w{base + i}" if extra else None)
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k int, v string, w string")
        if not extra:
            df = df.drop("w")
        if partitioned:
            df = df.withColumn("part", (df.k % 2).cast("int"))
            df.repartition(parts).write.mode("append").partitionBy(
                "part"
            ).parquet(t)
        else:
            df.repartition(parts).write.mode("append").parquet(t)
        base += n
        wrote_any = True
    if not wrote_any:
        return
    before = _rows(spark, t)
    out = compact_warehouse(spark, wh, min_files=1)
    assert _rows(spark, t) == before
    assert (out["T"]["rows"] or 0) == len(before)
    again = compact_warehouse(spark, wh, min_files=1)
    assert _rows(spark, t) == before
    # a fold of a fold never grows files
    assert again["T"]["files_after"] <= out["T"]["files_after"]
