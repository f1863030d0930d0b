"""Degeneracy sweep: every registered query must EXECUTE on an empty
corpus (0-row tables, real schemas).

At 100 TB the empty case is not hypothetical — it is every new partition,
every first run of an incremental pipeline, every filtered-to-nothing
date slice. Failure modes this pins: driver-side scalar collects reading
row [0] of an empty result (corpus stats, centroid seeds), divisions by
zero count, windows over empty frames, streaming sources with no files,
and schema probes of empty directories (the stage_with_late_filler bug
class). Queries are allowed to return 0 rows (or constant-only rows for
scalar-aggregate shapes); they are not allowed to raise.
"""

from __future__ import annotations

import glob
import os

import pytest

import __spark_entry__ as entrymod

# r12 suite split: end-to-end/property sweep module — runs with SPARK_GRAFT_SLOW_TESTS=1
pytestmark = pytest.mark.slow_tail

QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """A sibling of the real sf dirs where every table has the true
    schema and zero rows."""
    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for p in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        name = os.path.basename(p)
        df = spark.read.parquet(p).limit(0)
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dst, name)
        )
    return dst


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_executes_on_empty_corpus(spark, empty_sf_dir, name):
    df = QUERIES[name](spark, empty_sf_dir)
    n = df.count()
    # scalar-aggregate packs legitimately emit their constant row(s);
    # everything else must simply not blow up. No assertion on n beyond
    # being a real count.
    assert n >= 0


# --- non-registered surfaces that do driver-side collects -----------------


def test_bpe_trains_to_no_merges_on_empty(spark):
    from ffi_export_etl_spark.operators.bpe import (
        apply_bpe,
        train_bpe_full,
        word_count_table,
    )

    empty = spark.createDataFrame([], "doc_id: long, text: string")
    merges = train_bpe_full(word_count_table(empty, "text"), num_merges=5)
    assert merges == []
    assert apply_bpe(empty, merges, "text").count() == 0


def test_lloyd_cells_empty_vectors(spark):
    from ffi_export_etl_spark.operators.similarity import lloyd_cells

    empty = spark.createDataFrame([], "vec_id: long, embedding: array<float>")
    assert lloyd_cells(empty, dim=4, k=2, iters=2).count() == 0
