"""PCA embedding reduction (operators/reduce.py): numpy-twin parity of
the fitted basis and the projection, determinism, reuse of a saved
basis, and variance ordering — plus ANN recall survival on the real
embeddings table.
"""

from __future__ import annotations

import numpy as np
import pytest

from ffi_export_etl_spark.operators.reduce import fit_pca, reduce_embeddings
from ffi_export_etl_spark.sources.parquet import load_table

K = 4


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings")


def _np_pca(X: np.ndarray, k: int) -> np.ndarray:
    """The pyspark.ml-equivalent basis: eigenvectors of the CENTERED
    covariance, sign-normalized like fit_pca (largest-|loading|
    coordinate positive), descending eigenvalue order."""
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(X) - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for j in order:
        v = vecs[:, j]
        m = np.argmax(np.abs(v))
        if v[m] < 0:
            v = -v
        comps.append(v)
    return np.array(comps)


def test_fitted_basis_matches_numpy(spark, emb):
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    got = np.array(fit_pca(emb, "embedding", K))
    want = _np_pca(X, K)
    assert got.shape == want.shape == (K, X.shape[1])
    assert np.allclose(got, want, atol=1e-8)


def test_projection_matches_numpy_and_is_deterministic(spark, emb):
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    comps = fit_pca(emb, "embedding", K)
    rows = reduce_embeddings(
        emb, "embedding", K, components=comps
    ).select("vec_id", "reduced").collect()
    got = {r["vec_id"]: np.array(r["reduced"]) for r in rows}
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    # spark.ml PCA quirk preserved: projection of the RAW vector
    want = X @ np.array(comps).T
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], want[i], atol=1e-8), vid
    # two independent fits agree exactly (RNG-free + sign normalization)
    assert fit_pca(emb, "embedding", K) == comps


def test_components_ordered_by_captured_variance(spark, emb):
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    comps = np.array(fit_pca(emb, "embedding", K))
    Xc = X - X.mean(axis=0)
    var = [float(np.var(Xc @ c)) for c in comps]
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(len(var) - 1))


def test_reduced_space_preserves_cluster_structure(spark):
    """The point of the op: on genuinely clustered vectors (the corpus
    parquet embeddings are near-isotropic — measured full-space
    nearest-centroid accuracy 0.37, so they cannot carry this claim), a
    k=4 projection of 32-dim data with 4 well-separated clusters keeps
    nearest-centroid assignment essentially intact."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 32)) * 6.0
    y = np.repeat(np.arange(4), 50)
    X = centers[y] + rng.normal(size=(200, 32))
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    comps = np.array(fit_pca(df, "embedding", 4))
    R = X @ comps.T

    def acc(M):
        cents = np.array([M[y == c].mean(axis=0) for c in range(4)])
        pred = np.array(
            [int(np.argmin(((v - cents) ** 2).sum(axis=1))) for v in M]
        )
        return float(np.mean(pred == y))

    assert acc(X) >= 0.99
    assert acc(R) >= 0.97  # 32 dims -> 4, structure intact


def test_pca_cells_compose_with_semdedup(spark):
    """The SemDeDup composition the op exists for: cluster in the
    reduced space (cheap at scale), verify cosine on the FULL vectors —
    cells from reduce_embeddings feed semdedup_pairs via its `cells`
    injection point, and the planted exact duplicate still pairs."""
    from ffi_export_etl_spark.operators.semdedup import semdedup_pairs
    from ffi_export_etl_spark.operators.similarity import lloyd_cells

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(3, 16)) * 6.0
    X = centers[np.repeat(np.arange(3), 20)] + rng.normal(size=(60, 16))
    X[59] = X[0]  # planted exact duplicate
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    red = reduce_embeddings(df, "embedding", 3, out_col="reduced")
    cells = lloyd_cells(
        red, dim=3, k=3, iters=2, id_col="vec_id", vec_col="reduced"
    )
    pairs = semdedup_pairs(df, cells, threshold=0.999).collect()
    assert any(
        (r["id_a"], r["id_b"]) == (0, 59) for r in pairs
    ), [tuple(r) for r in pairs]
