"""SemDeDup composition (operators/semdedup.py): cluster-local cosine
dedup — pair gen confined to k-means cells."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.semdedup import semdedup_pairs
from ffi_export_etl_spark.operators.similarity import cosine_pairs

DIM = 4


def _corpus(spark):
    """Three planted dup groups in well-separated directions plus two
    singletons; group members are tiny perturbations (cos > 0.999)."""
    rows = []
    base = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    vid = 0
    for g, v in base.items():
        for j in range(3):  # ids g*10 .. g*10+2
            bump = [x + (0.001 * j if i == 3 else 0) for i, x in enumerate(v)]
            rows.append((g * 10 + j, bump))
            vid += 1
    rows.append((90, [0.5, 0.5, 0.5, 0.5]))
    rows.append((91, [-1.0, 0.2, 0.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_semantic_dedup_planted_groups(spark):
    """k=4 cells: every pair inside a planted group is found and
    nothing else — the singletons pair with no one."""
    vecs = _corpus(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(vecs, DIM, k=4, threshold=0.999).collect()
    }
    assert got == {
        (g * 10 + a, g * 10 + b)
        for g in (0, 1, 2)
        for a in range(3)
        for b in range(a + 1, 3)
    }


def test_k1_equals_exact_all_pairs(spark):
    """With one cell the within-cell join IS the exact quadratic scan —
    pairs must match cosine_pairs bit for bit."""
    vecs = _corpus(spark)
    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in semdedup_pairs(vecs, DIM, k=1, threshold=0.99).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in cosine_pairs(vecs, threshold=0.99).collect()
    }
    assert got == want and len(want) >= 9


def test_identical_vectors_share_a_cell(spark):
    """Exact duplicates have identical cosine to every centroid; the
    deterministic tiebreak must put them in the same cell, so exact dups
    can never be missed across a cluster boundary."""
    rows = [(i, [float(i % 5 == j) for j in range(5)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cells = semdedup_pairs(vecs, 5, k=3, threshold=1.0).collect()
    pair_ids = {(r["id_a"], r["id_b"]) for r in cells}
    # identical vectors can never split across cells, so every pair of
    # the 8 exact copies of each of the 5 directions is found
    assert pair_ids == {
        (a, b) for a in range(40) for b in range(a + 1, 40) if a % 5 == b % 5
    }


def test_cell_cap_skips_degenerate_cells(spark):
    vecs = _corpus(spark)
    assert (
        semdedup_pairs(vecs, DIM, k=1, threshold=0.5, max_cell_size=2).count()
        == 0
    )


def test_semdedup_pair_join_is_equi_on_cell(spark):
    """The within-cell join must plan as an equi-join on cell — never a
    cartesian/nested-loop product (the thing the clustering exists to
    avoid). Asserted on the pair stage in isolation via a precomputed
    cells table (lloyd_cells itself legitimately uses a k-row broadcast
    nested loop to scatter each vector against the tiny centroid set)."""
    vecs = _corpus(spark)
    cells = spark.createDataFrame(
        [(r["vec_id"], int(r["vec_id"] % 3)) for r in vecs.collect()],
        "id: long, cell: int",
    )
    plan = (
        semdedup_pairs(vecs, DIM, k=3, cells=cells)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
