"""Persisted IVF-PQ ANN index (operators/annstore.py): the stored form
must equal the in-memory ivfpq_topk composition exactly, the search scan
must be partition-pruned to the probed cells, and incremental adds must
encode with the STORED model (no retrain) and become searchable."""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.annstore import (
    ann_index_add,
    ann_index_search,
    build_ann_index,
    read_ann_index_meta,
    write_ann_index,
)
from ffi_export_etl_spark.operators.pq import ivfpq_topk, pq_encode

DIM, M, PQ_K, COARSE_K, ITERS = 8, 4, 8, 8, 2


def _mkvecs(n, seed=7, offset=0, spread=3.0):
    rng = np.random.RandomState(seed)
    centers = rng.randn(COARSE_K, DIM) * spread
    v = centers[rng.randint(0, COARSE_K, n)] + rng.randn(n, DIM) * 0.3
    return {offset + i: [float(x) for x in np.round(v[i], 4)] for i in range(n)}


def _df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def index_fix(spark, tmp_path_factory):
    vecs = _mkvecs(80)
    df = _df(spark, vecs)
    queries = _df(spark, _mkvecs(5, seed=99, offset=1000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index_dir = str(tmp_path_factory.mktemp("annidx") / "idx")
    meta = build_ann_index(
        df, index_dir, DIM, coarse_k=COARSE_K, m=M, pq_k=PQ_K, iters=ITERS
    )
    return vecs, df, queries, index_dir, meta


def test_stored_search_equals_in_memory_ivfpq(spark, index_fix):
    """The persisted index is a storage format, not a different
    algorithm: searching it must reproduce ivfpq_topk over the SAME
    stored artifacts row for row."""
    _vecs, _df_, queries, index_dir, _meta = index_fix
    stored_codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    got = sorted(
        map(
            str,
            ann_index_search(
                spark, index_dir, queries, k=10, nprobe=3
            ).collect(),
        )
    )
    want = sorted(
        map(
            str,
            ivfpq_topk(
                None,
                stored_codes.select("id", "codes"),
                spark.read.parquet(os.path.join(index_dir, "codebooks")),
                queries,
                DIM,
                cells=stored_codes.select("id", "cell"),
                centroids=spark.read.parquet(
                    os.path.join(index_dir, "centroids")
                ),
                nprobe=3,
                k=10,
                m=M,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_search_scan_is_partition_pruned(spark, index_fix):
    """The 100 TB contract: the codes scan carries a PartitionFilters
    cell predicate (probed cells only), never a full scan + filter."""
    _vecs, _df_, queries, index_dir, _meta = index_fix
    out = ann_index_search(spark, index_dir, queries, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "cell" in m.group(1)  # non-empty partition predicate on cell


def test_rerank_path_matches_exact_distances(spark, index_fix):
    """IVFADC+R through the store: handing the raw vectors back re-scores
    the shortlist with exact rounded squared L2."""
    vecs, df, queries, index_dir, _meta = index_fix
    out = ann_index_search(
        spark, index_dir, queries, k=5, nprobe=3, rerank_vectors=df
    ).collect()
    assert out
    qv = {
        r["query_id"]: np.array(r["embedding"])
        for r in queries.select(
            "query_id", "embedding"
        ).collect()
    }
    for r in out:
        exact = round(
            float(((np.array(vecs[r["nbr_id"]]) - qv[r["query_id"]]) ** 2).sum()),
            6,
        )
        assert r["dist"] == pytest.approx(exact, abs=1e-9)


def test_incremental_add_uses_stored_model(spark, index_fix):
    """Day-2 arrivals: encoded with the stored codebooks (pinned equal to
    pq_encode on the read-back model — NO retrain) and immediately
    searchable; a query equal to an added vector must retrieve it."""
    _vecs, _df_, _queries, index_dir, meta = index_fix
    day2 = _mkvecs(12, seed=31, offset=500)
    d2 = _df(spark, day2)
    report = ann_index_add(spark, index_dir, d2)
    assert report == {"added": 12}

    stored = {
        r["id"]: list(r["codes"])
        for r in spark.read.parquet(os.path.join(index_dir, "codes"))
        .filter(F.col("id") >= 500)
        .collect()
    }
    books = spark.read.parquet(os.path.join(index_dir, "codebooks"))
    want = {
        r["id"]: list(r["codes"])
        for r in pq_encode(d2, books, meta["dim"], m=meta["m"]).collect()
    }
    assert stored == want

    probe_id = 500
    q = spark.createDataFrame(
        [(0, day2[probe_id])], "query_id long, embedding array<double>"
    )
    hits = ann_index_search(spark, index_dir, q, k=3, nprobe=2).collect()
    assert probe_id in {r["nbr_id"] for r in hits}
    # the added vector IS the query -> it must be the rank-1 neighbor
    assert min(hits, key=lambda r: r["rnk"])["nbr_id"] == probe_id


def test_meta_guards(spark, index_fix, tmp_path):
    _vecs, _df_, _queries, index_dir, meta = index_fix
    assert read_ann_index_meta(index_dir) == meta
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "_meta.json"), "w") as f:
        json.dump({"version": 999}, f)
    with pytest.raises(ValueError, match="version"):
        read_ann_index_meta(bad)
    # an index written at another rounding is refused, not searched off
    # its grid
    with open(os.path.join(bad, "_meta.json"), "w") as f:
        json.dump({**meta, "round_digits": 4}, f)
    with pytest.raises(ValueError, match="round_digits"):
        read_ann_index_meta(bad)


@pytest.mark.slow_tail  # r12 suite split
def test_index_compact_bounds_files_and_preserves_search(spark, tmp_path):
    """Daily adds grow each cell dir's file count; ann_index_compact
    folds per PARTITION (layout preserved — the scan pruning must
    survive) and search results are bit-identical across the fold."""
    from ffi_export_etl_spark.operators.annstore import ann_index_compact

    vecs = _mkvecs(60, seed=3)
    df = _df(spark, vecs)
    idx = str(tmp_path / "idx")
    build_ann_index(df, idx, DIM, coarse_k=4, m=M, pq_k=PQ_K, iters=ITERS)
    for day in range(4):  # four arrival batches append into the cells
        ann_index_add(
            spark, idx, _df(spark, _mkvecs(10, seed=50 + day,
                                           offset=1000 + 100 * day))
        )
    codes_dir = os.path.join(idx, "codes")

    def _files_per_cell():
        return {
            n: len([f for f in os.listdir(os.path.join(codes_dir, n))
                    if f.endswith(".parquet")])
            for n in os.listdir(codes_dir) if n.startswith("cell=")
        }

    before = _files_per_cell()
    assert max(before.values()) > 2  # adds really did accumulate files
    queries = _df(spark, _mkvecs(4, seed=77, offset=9000)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(map(str, ann_index_search(
        spark, idx, queries, k=8, nprobe=2
    ).collect()))

    report = ann_index_compact(spark, idx, min_files=2)
    assert report["codes"]["action"] == "compacted"
    assert report["codes"]["partitions"] == len(before)
    after = _files_per_cell()
    assert set(after) == set(before)  # partition layout intact
    assert sum(after.values()) < sum(before.values())
    got = sorted(map(str, ann_index_search(
        spark, idx, queries, k=8, nprobe=2
    ).collect()))
    assert got == want
    # still partition-pruned after the fold
    plan = (
        ann_index_search(spark, idx, queries, k=8, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    m_ = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m_ and "cell" in m_.group(1)
    # idempotent: next fold is a no-op report
    again = ann_index_compact(spark, idx, min_files=2)
    assert again["codes"]["action"] == "skipped"


@pytest.mark.slow_tail  # r12 suite split
def test_ann_index_cli_roundtrip(spark, tmp_path, capsys):
    """The ann-index subcommand drives build -> add -> search -> compact
    against one index dir, each action printing one JSON line."""
    from ffi_export_etl_spark.__main__ import main

    corpus = str(tmp_path / "corpus")
    day2 = str(tmp_path / "day2")
    idx = str(tmp_path / "idx")
    _df(spark, _mkvecs(40, seed=5)).write.parquet(corpus)
    _df(spark, _mkvecs(10, seed=6, offset=700)).write.parquet(day2)

    def run(*argv):
        assert main(list(argv)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    meta = run("ann-index", "build", "--index", idx, "--input", corpus,
               "--coarse-k", "4", "--m", str(M), "--pq-k", str(PQ_K))
    assert meta["dim"] == DIM and meta["coarse_k"] == 4
    assert run("ann-index", "add", "--index", idx, "--input", day2) == {
        "added": 10
    }
    hits = run("ann-index", "search", "--index", idx, "--input", day2,
               "--k", "3", "--nprobe", "2")["hits"]
    assert hits and all(
        set(h) == {"query_id", "nbr_id", "adc_dist", "rnk"} for h in hits
    )
    # an added id is findable through the CLI path too (query ids are the
    # day2 ids themselves -> self is excluded; its batch-mates are not)
    rep = run("ann-index", "compact", "--index", idx, "--min-files", "2")
    assert rep["codes"]["action"] == "compacted"
    out_dir = str(tmp_path / "hits")
    rep = run("ann-index", "search", "--index", idx, "--input", day2,
              "--k", "3", "--nprobe", "2", "--output", out_dir)
    assert rep["queries"] == 10
    assert spark.read.parquet(out_dir).count() == len(hits)


def test_gated_store_arm_matches_ivfpq_and_prunes(spark, tmp_path):
    """The r11 driver-gated 'store' arm (ann_pq_pack): built over the
    pack's literal artifacts it must (a) reproduce the 'ivfpq' arm row
    for row modulo the kind tag — the stored index is a storage format,
    not a different algorithm, which is what makes sharing the ivfpq
    oracle honest — and (b) keep the PartitionFilters cell predicate on
    the codes scan (the 100 TB contract, extended to the gated arm per
    the r10 verdict)."""
    from ffi_export_etl_spark.queries.similarity_q import (
        DIM,
        IVFPQ_CELLS,
        IVFPQ_NPROBE,
        PQ_K,
        PQ_M,
        TOPK,
        _ivfpq_arm,
        _ivfpq_coarse,
        _pq_codebooks_df,
        _pq_codes_literal,
        _queries_df,
        _store_arm,
    )
    from ffi_export_etl_spark.sources.parquet import load_table

    sf_dir = "/root/testdata/sf0.001"
    e = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebooks_df(spark)
    codes = _pq_codes_literal(e)
    cents, cells = _ivfpq_coarse(spark, e)
    index_dir = str(tmp_path / "packidx")

    got = _store_arm(spark, e, cb, codes, cents, cells).collect()
    want = _ivfpq_arm(spark, e, cb, codes, cents, cells).collect()
    retag = sorted(str(r.asDict() | {"kind": "store"}) for r in want)
    assert sorted(str(r.asDict()) for r in got) == retag and got

    # the arm cleans its own index up: write the same store here for
    # plan introspection on the search the gate runs
    write_ann_index(
        index_dir, cents, cb, codes.join(cells, "id"),
        dim=DIM, coarse_k=IVFPQ_CELLS, m=PQ_M, pq_k=PQ_K,
    )
    out = ann_index_search(
        spark, index_dir, _queries_df(e), k=TOPK, nprobe=IVFPQ_NPROBE
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "cell" in m.group(1)


def test_empty_corpus_index_roundtrip(spark, tmp_path):
    """An index built from ZERO vectors must still be searchable: the
    partitioned codes write leaves no schema-bearing part file, so the
    search reads codes with the schema stamped in the meta (r11) and
    returns an empty result instead of UNABLE_TO_INFER_SCHEMA."""
    idx = str(tmp_path / "empty_idx")
    empty = _df(spark, {}).limit(0)
    meta = build_ann_index(
        empty, idx, DIM, coarse_k=COARSE_K, m=M, pq_k=PQ_K, iters=ITERS
    )
    assert "codes_schema" in meta
    q = _df(spark, _mkvecs(3, seed=11, offset=1000))
    out = ann_index_search(spark, idx, q, k=5, query_id_col="vec_id")
    assert out.count() == 0
