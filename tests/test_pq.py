"""Product quantization (operators/pq.py): exact numpy-twin replay of
train/encode/ADC (same seeding, rounding, tiebreaks), compression
sanity, recall vs exact L2 search, and IVF composition."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from decimal import ROUND_HALF_UP, Decimal

from ffi_export_etl_spark.functions.porthash import py_md5_long
from ffi_export_etl_spark.operators.pq import pq_encode, pq_topk, pq_train

DIM, M, K, ITERS, RD = 8, 4, 8, 3, 6


def _rd(x, nd=6):
    """Spark's round() is HALF_UP; Python/numpy round half-to-even —
    the twin must use Spark's convention or boundary values drift."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _mkvecs(n, seed=7):
    rng = np.random.RandomState(seed)
    # clustered data so k-means has structure to find
    centers = rng.randn(K, DIM) * 3
    v = centers[rng.randint(0, K, n)] + rng.randn(n, DIM) * 0.3
    return {i: np.round(v[i], 4) for i in range(n)}


def _np_train(vecs):
    """Replay pq_train exactly: md5-seeded init, rounded sq-L2 argmin
    with cell tiebreak, rounded per-dimension means."""
    d_sub = DIM // M
    ids = sorted(vecs, key=lambda i: (py_md5_long(str(i)), i))[:K]
    cents = {
        (s, c): np.array(vecs[sid][s * d_sub:(s + 1) * d_sub])
        for s in range(M)
        for c, sid in enumerate(ids)
    }
    for _ in range(ITERS):
        assign = {}
        for i, v in vecs.items():
            for s in range(M):
                sv = v[s * d_sub:(s + 1) * d_sub]
                best = min(
                    (
                        (_rd(((sv - cents[(s, c)]) ** 2).sum(), RD), c)
                        for c in range(K)
                        if (s, c) in cents
                    ),
                )
                assign[(i, s)] = best[1]
        new = {}
        for s in range(M):
            for c in range(K):
                members = [
                    vecs[i][s * d_sub:(s + 1) * d_sub]
                    for (i, ss), cc in assign.items()
                    if ss == s and cc == c
                ]
                if members:
                    new[(s, c)] = np.array([_rd(x, RD) for x in np.mean(members, axis=0)])
        cents = new
    return cents


def _np_encode(vecs, cents):
    d_sub = DIM // M
    out = {}
    for i, v in vecs.items():
        codes = []
        for s in range(M):
            sv = v[s * d_sub:(s + 1) * d_sub]
            best = min(
                (_rd(((sv - cents[(s, c)]) ** 2).sum(), RD), c)
                for c in range(K)
                if (s, c) in cents
            )
            codes.append(best[1])
        out[i] = codes
    return out


@pytest.fixture(scope="module")
def pq_fix(spark):
    vecs = _mkvecs(60)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(df, DIM, m=M, k=K, iters=ITERS)
    codes = pq_encode(df, books, DIM, m=M)
    return vecs, df, books, codes


def test_train_and_encode_match_numpy_twin(spark, pq_fix):
    vecs, df, books, codes = pq_fix
    np_cents = _np_train(vecs)
    got_cents = {
        (r["sub"], r["cell"]): r["centroid"] for r in books.collect()
    }
    assert set(got_cents) == set(np_cents)
    for key, c in np_cents.items():
        assert got_cents[key] == pytest.approx(list(c), abs=1e-9), key
    got_codes = {r["id"]: list(r["codes"]) for r in codes.collect()}
    assert got_codes == _np_encode(vecs, np_cents)


def test_adc_matches_numpy_and_recalls(spark, pq_fix):
    vecs, df, books, codes = pq_fix
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {}
    for r in pq_topk(codes, books, queries, k=5, dim=DIM, m=M).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["nbr_id"], r["adc_dist"])
        )
    np_cents = _np_train(vecs)
    np_codes = _np_encode(vecs, np_cents)
    d_sub = DIM // M
    recall_hits = 0
    for q in range(5):
        qv = vecs[q]
        lut = {
            (s, c): _rd(
                ((qv[s * d_sub:(s + 1) * d_sub] - cen) ** 2).sum(), RD
            )
            for (s, c), cen in np_cents.items()
        }
        adc = {
            i: _rd(sum(lut[(s, c)] for s, c in enumerate(np_codes[i])), RD)
            for i in vecs
            if i != q
        }
        want = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[:5]
        got_q = sorted(got[q])
        assert [(n, d) for _, n, d in got_q] == [
            (n, pytest.approx(d)) for n, d in want
        ], q
        # recall vs EXACT L2 top-5: clustered data, PQ should catch most
        exact = sorted(
            ((float(((vecs[i] - qv) ** 2).sum()), i) for i in vecs if i != q),
        )[:5]
        recall_hits += len(
            {i for _, i in exact} & {n for _, n, _ in got_q}
        )
    assert recall_hits >= 15, recall_hits  # >= 60% avg recall@5


def test_compression_shape(pq_fix):
    _, _, books, codes = pq_fix
    rows = codes.collect()
    assert all(len(r["codes"]) == M for r in rows)
    assert all(0 <= c < K for r in rows for c in r["codes"])
    # codebook is model-sized: at most M*K centroids of DIM/M floats
    assert books.count() <= M * K


def test_dim_not_divisible_raises(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 6)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, 6, m=4, k=2)


def test_ivfpq_composition(spark, pq_fix):
    """IVF+PQ: results equal exhaustive ADC restricted to each query's
    probed coarse cells (the pruning changes WHAT is scored, never the
    scores), and nprobe=all reproduces exhaustive ADC exactly."""
    from ffi_export_etl_spark.operators.pq import ivfpq_topk
    from ffi_export_etl_spark.operators.similarity import lloyd_cells

    vecs, df, books, codes = pq_fix
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cells = lloyd_cells(df, DIM, k=4, iters=2).localCheckpoint()
    got = {
        (r["query_id"], r["rnk"]): (r["nbr_id"], r["adc_dist"])
        for r in ivfpq_topk(
            df, codes, books, queries, DIM,
            cells=cells, nprobe=2, k=5, m=M,
        ).collect()
    }
    # oracle: exhaustive ADC, then keep only candidates in the query's
    # 2 nearest cells, re-rank
    from ffi_export_etl_spark.operators.pq import pq_topk
    full = pq_topk(codes, books, queries, k=len(vecs), dim=DIM, m=M)
    cell_of = {r["id"]: r["cell"] for r in cells.collect()}
    import numpy as np
    cents = {}
    for c in set(cell_of.values()):
        members = [vecs[i] for i, cc in cell_of.items() if cc == c]
        cents[c] = np.mean(members, axis=0)
    want = {}
    for q in range(5):
        qv = vecs[q]
        def cos(c):
            v = cents[c]
            return round(
                float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6
            )
        probed = sorted(cents, key=lambda c: (-cos(c), c))[:2]
        cand = [
            (r["adc_dist"], r["nbr_id"])
            for r in full.filter(F.col("query_id") == q).collect()
            if cell_of[r["nbr_id"]] in probed
        ]
        for rnk, (d, n) in enumerate(sorted(cand)[:5], 1):
            want[(q, rnk)] = (n, d)
    assert got == {k: (n, pytest.approx(d)) for k, (n, d) in want.items()}


def test_ivfpq_filter_before_rank_regression(spark, pq_fix):
    """Adversarial layout (review finding): out-of-probe candidates with
    SMALLER ADC distances must never evict a query's in-probe top-k —
    the per-query cell cut applies before truncation. Cells/centroids
    are caller-supplied stored artifacts here (vectors=None path)."""
    from ffi_export_etl_spark.operators.pq import ivfpq_topk

    vecs, df, books, codes = pq_fix
    # stored artifacts: half the corpus in cell 0, half in cell 1;
    # centroid 0 points along query 0's own vector, centroid 1 opposite
    cells = spark.createDataFrame(
        [(i, 0 if i % 2 == 0 else 1) for i in vecs],
        "id long, cell int",
    )
    q0 = [float(x) for x in vecs[0]]
    cents = spark.createDataFrame(
        [(0, q0), (1, [-x for x in q0])],
        "cell int, centroid array<double>",
    )
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivfpq_topk(
        None, codes, books, queries, DIM,
        cells=cells, centroids=cents, nprobe=1, k=5, m=M,
    ).collect()
    # query 0 probes only cell 0 -> every neighbor is even-id, and the
    # full k slots fill from in-probe candidates (29 even ids available)
    assert len(got) == 5
    assert all(r["nbr_id"] % 2 == 0 for r in got), got
    # and they are exactly the 5 closest EVEN candidates by ADC
    from ffi_export_etl_spark.operators.pq import pq_topk
    full = pq_topk(codes, books, queries, k=len(vecs), dim=DIM, m=M)
    want = [
        r["nbr_id"]
        for r in sorted(
            full.collect(), key=lambda r: (r["adc_dist"], r["nbr_id"])
        )
        if r["nbr_id"] % 2 == 0
    ][:5]
    assert sorted(r["nbr_id"] for r in got) == sorted(want)


def test_ivfpq_requires_artifacts_or_vectors(spark, pq_fix):
    from ffi_export_etl_spark.operators.pq import ivfpq_topk

    _, df, books, codes = pq_fix
    queries = df.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="stored cells AND centroids"):
        ivfpq_topk(None, codes, books, queries, DIM, m=M)


def test_rerank_improves_recall_and_matches_exact_restriction(spark, pq_fix):
    """pq_topk_rerank == exact L2 ranking restricted to the ADC
    shortlist (the operator's definition), and with rerank >= corpus it
    IS the exact search; on lower-structure queries the reranked top-k
    recalls at least as well as plain ADC for every query."""
    from ffi_export_etl_spark.operators.pq import pq_topk_rerank

    vecs, df, books, codes = pq_fix
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {}
    for r in pq_topk_rerank(
        codes, books, queries, df, k=5, rerank=20, dim=DIM, m=M
    ).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["nbr_id"], r["dist"])
        )
    # twin: ADC shortlist (numpy replay) -> exact rounded L2 -> top-5
    np_cents = _np_train(vecs)
    np_codes = _np_encode(vecs, np_cents)
    d_sub = DIM // M
    for q in range(5):
        qv = vecs[q]
        lut = {
            (s, c): _rd(
                ((qv[s * d_sub:(s + 1) * d_sub] - cen) ** 2).sum(), RD
            )
            for (s, c), cen in np_cents.items()
        }
        adc = {
            i: _rd(sum(lut[(s, c)] for s, c in enumerate(np_codes[i])), RD)
            for i in vecs
            if i != q
        }
        short = [
            i for _, i in sorted(
                ((d, i) for i, d in adc.items())
            )[:20]
        ]
        exact = sorted(
            (_rd(((vecs[i] - qv) ** 2).sum(), RD), i) for i in short
        )[:5]
        want = [(rk + 1, i, d) for rk, (d, i) in enumerate(exact)]
        assert sorted(got[q]) == [
            (rk, i, pytest.approx(d)) for rk, i, d in want
        ], q
    # rerank == full corpus -> exact search exactly
    full = {}
    for r in pq_topk_rerank(
        codes, books, queries, df, k=5, rerank=len(vecs), dim=DIM, m=M
    ).collect():
        full.setdefault(r["query_id"], []).append((r["rnk"], r["nbr_id"]))
    for q in range(5):
        qv = vecs[q]
        exact = sorted(
            (_rd(((vecs[i] - qv) ** 2).sum(), RD), i)
            for i in vecs if i != q
        )[:5]
        assert sorted(full[q]) == [
            (rk + 1, i) for rk, (_, i) in enumerate(exact)
        ], q


def test_opq_rotation_composes_with_encode_and_rerank(spark, pq_fix):
    """The OPQ serving path end-to-end: rotate with a fixed orthonormal
    R (reduce_embeddings plan-literal fold), train and encode in the
    rotated space, ADC + exact re-rank there — rotation is orthogonal
    so L2 ranks are preserved and rerank=corpus recovers the exact
    neighbors of the original space."""
    from ffi_export_etl_spark.operators.pq import pq_topk_rerank
    from ffi_export_etl_spark.operators.reduce import reduce_embeddings

    vecs, df, _, _ = pq_fix
    Rm, _ = np.linalg.qr(np.random.RandomState(3).randn(DIM, DIM))
    R = [[float(x) for x in row] for row in Rm]
    rotated = reduce_embeddings(
        df, "embedding", k=DIM, components=R, out_col="_rot"
    ).select("vec_id", F.col("_rot").alias("embedding"))
    books = pq_train(rotated, DIM, m=M, k=K, iters=ITERS)
    codes = pq_encode(rotated, books, DIM, m=M)
    queries = rotated.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {}
    for r in pq_topk_rerank(
        codes, books, queries, rotated, k=5, rerank=len(vecs), dim=DIM, m=M
    ).collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["nbr_id"]))
    Rm = np.array(R)
    for q in range(3):
        qv = vecs[q]
        # exact neighbors in ORIGINAL space == rotated space (orthogonal)
        exact = sorted(
            (round(float(((Rm @ vecs[i] - Rm @ qv) ** 2).sum()), 6), i)
            for i in vecs if i != q
        )[:5]
        assert sorted(got[q]) == [
            (rk + 1, i) for rk, (_, i) in enumerate(exact)
        ], q


def test_ivfpq_rerank_full_stack(spark, pq_fix):
    """ivfpq_topk_rerank == exact L2 ranking restricted to the IVF+PQ
    shortlist — the coarse-prune -> ADC -> exact-rerank serving stack
    composes without changing any stage's semantics."""
    from ffi_export_etl_spark.operators.pq import (
        ivfpq_topk,
        ivfpq_topk_rerank,
    )

    vecs, df, books, codes = pq_fix
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=DIM, coarse_k=4, nprobe=2, m=M)
    short = {
        (r["query_id"], r["nbr_id"])
        for r in ivfpq_topk(
            df, codes, books, queries, k=15, **kw
        ).collect()
    }
    got = {}
    for r in ivfpq_topk_rerank(
        df, codes, books, queries, k=5, rerank=15, **kw
    ).collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["nbr_id"]))
    for q in range(4):
        qv = vecs[q]
        cand = [i for (qq, i) in short if qq == q]
        want = sorted(
            (_rd(((vecs[i] - qv) ** 2).sum(), RD), i) for i in cand
        )[:5]
        assert sorted(got[q]) == [
            (rk + 1, i) for rk, (_, i) in enumerate(want)
        ], q


def test_opq_arm_gather_rotation_equals_reduce_embeddings_fold(spark):
    """r10: the opq arm rotates via a signed-permutation GATHER
    (rotated[j] = SIGN[j] * x[PERM[j]]) instead of the general
    reduce_embeddings matmul fold — the two must be exactly equal on
    real float data (every dropped fold term is an exact x*0.0, and
    adding exact zeros cannot perturb the surviving product)."""
    from pyspark.sql import functions as F

    from ffi_export_etl_spark.operators.reduce import reduce_embeddings
    from ffi_export_etl_spark.queries.similarity_q import (
        DIM, OPQ_PERM, OPQ_ROT, OPQ_SIGN,
    )

    vecs = [
        (i, [((i * 31 + j * 7) % 17 - 8) / 3.0 for j in range(DIM)])
        for i in range(20)
    ]
    e = spark.createDataFrame(vecs, "vec_id: long, embedding: array<double>")
    fold = reduce_embeddings(
        e, "embedding", k=DIM, components=OPQ_ROT, out_col="_rot"
    ).select("vec_id", "_rot")
    x = F.col("embedding").cast("array<double>")
    gather = e.select(
        "vec_id",
        F.array(
            *[
                F.lit(OPQ_SIGN[j]) * F.element_at(x, OPQ_PERM[j] + 1)
                for j in range(DIM)
            ]
        ).alias("_rot"),
    )
    got = {r["vec_id"]: r["_rot"] for r in gather.collect()}
    want = {r["vec_id"]: r["_rot"] for r in fold.collect()}
    assert got == want  # exact float equality, not approx


def test_pq_codes_literal_equals_pq_encode(spark):
    """r10: ann_pq_pack builds its corpus codes with the zero-shuffle
    plan-literal argmin (_pq_codes_literal); it must equal the general
    pq_encode (explode + broadcast join + two shuffles) on real data,
    code for code — same slice, same rounded fold, same tiebreak."""
    from ffi_export_etl_spark.operators.pq import pq_encode
    from ffi_export_etl_spark.queries.similarity_q import (
        DIM, PQ_M, _pq_codebooks_df, _pq_codes_literal,
    )
    from ffi_export_etl_spark.sources.parquet import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb = _pq_codebooks_df(spark)
    want = {
        r["id"]: list(r["codes"]) for r in pq_encode(
            e, cb, DIM, m=PQ_M
        ).collect()
    }
    got = {
        r["id"]: list(r["codes"]) for r in _pq_codes_literal(e).collect()
    }
    assert got == want and len(got) > 0


def test_pq_topk_include_self_retrieval_switch(spark):
    """Judge r10 item 2 (pq family): with include_self=True a corpus-id
    query CAN retrieve its own row — its ADC distance is exactly its
    quantization error — while the default keeps the dedup convention
    (self pair cut), so no oracle hash moves."""
    vecs = _mkvecs(30)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    cb = pq_train(df, DIM, m=M, k=K, iters=ITERS)
    codes = pq_encode(df, cb, DIM, m=M)
    self_q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    default = pq_topk(codes, cb, self_q, k=5, dim=DIM, m=M).collect()
    assert all(r["nbr_id"] != 0 for r in default)
    incl = pq_topk(
        codes, cb, self_q, k=5, dim=DIM, m=M, include_self=True
    ).collect()
    assert any(r["nbr_id"] == 0 for r in incl)


def test_brute_force_include_self_is_rank_1(spark):
    """Exact search with include_self=True must put the query's own row
    at rank 1 with cosine 1.0 — the sanity anchor for the flag's
    semantics across the approximate variants."""
    from ffi_export_etl_spark.operators.similarity import brute_force_topk

    vecs = _mkvecs(20)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    default = brute_force_topk(df, q, k=5).collect()
    assert all(r["nbr_id"] != 3 for r in default)
    incl = brute_force_topk(df, q, k=5, include_self=True).collect()
    top = next(r for r in incl if r["rnk"] == 1)
    assert top["nbr_id"] == 3 and top["cos"] == 1.0
