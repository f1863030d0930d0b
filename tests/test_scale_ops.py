"""Scale-behavior pins that assert on plans/metrics, not timings:

- connected_components raises instead of silently returning unconverged
  labels on a high-diameter graph,
- connected_components_alternating (large-star/small-star) solves a
  1000-node chain in O(log n) rounds and agrees with min-label
  propagation wherever both converge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.components import (
    connected_components,
    connected_components_alternating,
)

# r12 suite split: end-to-end/property sweep module — runs with SPARK_GRAFT_SLOW_TESTS=1
pytestmark = pytest.mark.slow_tail


def _chain_edges(spark, n: int):
    return spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )


def test_connected_components_raises_on_high_diameter(spark):
    """A 1000-node chain needs ~999 min-label rounds; with max_iter=20
    the old behavior silently returned WRONG labels. It must raise."""
    edges = _chain_edges(spark, 1000)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=20)


def test_alternating_cc_solves_chain_in_log_rounds(spark):
    """large-star/small-star on a 1000-node chain: one component labeled
    0, within 30 rounds (actual ~10) — the documented O(log n) bound."""
    edges = _chain_edges(spark, 1000)
    out = connected_components_alternating(edges)
    rows = out.collect()
    assert len(rows) == 1000
    assert {r["component"] for r in rows} == {0}


def test_cc_releases_per_round_checkpoints(spark):
    """Every round localCheckpoints its result; the PREVIOUS round's
    blocks must be released as soon as the convergence check has read
    them, or storage memory grows linearly with round count. After the
    run at most one checkpoint (the returned final round) — plus nothing
    else — may remain persisted beyond the pre-call baseline."""
    from ffi_export_etl_spark.operators.components import _persistent_ids

    # chain sizes chosen to need MANY rounds while still converging
    for fn, n in ((connected_components, 16), (connected_components_alternating, 64)):
        edges = _chain_edges(spark, n)
        before = _persistent_ids(spark)
        fn(edges).collect()
        leaked = _persistent_ids(spark) - before
        assert len(leaked) <= 1, (fn.__name__, leaked)


def test_alternating_cc_matches_label_propagation(spark):
    """On a low-diameter multi-component graph both algorithms agree."""
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 1),          # triangle -> 1
            (10, 11), (11, 12),              # path -> 10
            (20, 21),                        # pair -> 20
            (30, 31), (31, 32), (30, 32), (32, 33),  # -> 30
        ],
        "id_a: long, id_b: long",
    )
    a = {
        (r["id"], r["component"])
        for r in connected_components(edges, max_iter=20).collect()
    }
    b = {
        (r["id"], r["component"])
        for r in connected_components_alternating(edges).collect()
    }
    assert a == b
    assert (1, 1) in a and (33, 30) in a


def test_spread_skipped_on_many_file_scan(spark, tmp_path):
    """operators/spread.py: the per-doc pre-spread must be the identity
    when the backing scan already has enough input files — at 100 TB the
    repartition would shuffle the full raw text for nothing (the groupBy
    only needs the map-side-combined partials). Pinned three ways: the
    helper returns the input unchanged on a many-file scan, the simhash
    plan over that scan contains exactly ONE exchange (the partial-agg
    shuffle, carrying packed sums, not text), and fingerprints are
    identical whether the corpus arrives as 1 file or 32."""
    from ffi_export_etl_spark.operators.simhash import simhash_fingerprints
    from ffi_export_etl_spark.operators.spread import spread_per_doc

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} alpha beta gamma tok{i % 3} delta") for i in range(200)],
        "doc_id: long, text: string",
    )
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    docs.coalesce(1).write.parquet(one)
    docs.repartition(32).write.parquet(many)
    # the suite's session runs local[4]: 32 files cover its parallelism
    assert spark.sparkContext.defaultParallelism <= 32

    d_one, d_many = spark.read.parquet(one), spark.read.parquet(many)
    assert spread_per_doc(d_many, "doc_id") is d_many
    assert spread_per_doc(d_one, "doc_id") is not d_one

    plan = (
        simhash_fingerprints(d_many, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan

    fp = lambda d: {
        (r["id"], r["simhash"])
        for r in simhash_fingerprints(d, "doc_id", "text").collect()
    }
    assert fp(d_one) == fp(d_many)


def test_cc_release_spares_unrelated_caches(spark):
    """The per-round checkpoint release must free ONLY locally-
    checkpointed RDDs: a plain .persist() cache that happens to
    MATERIALIZE during a CC round's checkpoint action (the curation
    pipeline's scrubbed boundary does exactly this) must survive the
    run still cached."""
    base = spark.range(200).select(
        (F.col("id") % 50).alias("id_a"), (F.col("id") % 50 + 1).alias("id_b")
    ).persist()  # lazily marked; first materialized by CC's checkpoint
    try:
        connected_components_alternating(base).collect()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        alive = []
        it = jmap.entrySet().iterator()
        while it.hasNext():
            e = it.next()
            if not e.getValue().rdd().isLocallyCheckpointed():
                alive.append(int(e.getKey()))
        assert alive, "the unrelated persist() cache was evicted by CC"
        assert base.storageLevel.useMemory
    finally:
        base.unpersist()
