"""Property-based parity (hypothesis): randomly generated inputs run
through the Spark Column kernels in ONE job per example and are compared
to pure-Python oracles implementing the reference semantics.

Few examples, large batches — each example costs a Spark job, so the
strategy generates LISTS of inputs (the batch is the example).
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ffi_export_etl_spark.operators.shingles import word_shingle_arrays
from tests.test_reference_parity_funcs import py_parse_list_val

# r12 suite split: end-to-end/property sweep module — runs with SPARK_GRAFT_SLOW_TESTS=1
pytestmark = pytest.mark.slow_tail

TOKEN = st.text(
    alphabet="abcdefgh XY/.,'-", min_size=0, max_size=24
)


def py_shingles(text: str, n: int = 3) -> list[str]:
    toks = __import__("re").split(r"\s+", text)
    if len(toks) < n:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - n + 1):
        seen[" ".join(toks[i : i + n])] = None
    return list(seen)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TOKEN, min_size=1, max_size=40))
def test_word_shingles_property(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {
        r["id"]: sorted(r["shs"])
        for r in word_shingle_arrays(df, "id", "text", 3).collect()
    }
    assert got == {i: sorted(py_shingles(t)) for i, t in enumerate(texts)}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TOKEN, min_size=1, max_size=40))
def test_parse_list_val_property(spark, vals):
    from ffi_export_etl_spark.functions.idents import parse_list_val

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(parse_list_val("v").alias("x")).collect()]
    want = [py_parse_list_val(v) for v in vals]
    assert got == want


def py_jaccard_pairs(docs: list[tuple[int, str]], n: int, pct: int):
    """Pure-Python exact Jaccard oracle over word n-gram shingle sets."""
    sets = {i: set(py_shingles(t, n)) for i, t in docs}
    out = set()
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 100 >= pct * union:
                out.add((a, b))
    return out


DOC = st.text(alphabet="ab cd", min_size=0, max_size=60)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(DOC, min_size=2, max_size=12), st.sampled_from([20, 50, 80]))
def test_prefix_filtered_jaccard_is_exact(spark, texts, pct):
    """The AllPairs prefix filter must lose NOTHING: compare the
    prefix-filtered Spark jaccard_pairs against a brute-force pure-Python
    oracle on adversarially tiny vocabularies (maximum shingle
    collision)."""
    from ffi_export_etl_spark.operators.shingles import jaccard_pairs

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(df, "doc_id", "text", 3, pct).collect()
    }
    assert got == py_jaccard_pairs(docs, 3, pct)


def py_pack_sequences(texts: list[str], capacity: int):
    """Pure-Python sequential oracle for concat-and-split packing."""
    import re

    out, cum = [], 0
    for i, t in enumerate(texts):
        n = len(re.split(r"\s+", t))
        start = cum
        cum += n
        out.append(
            (i, n, start, start // capacity, start % capacity,
             (cum - 1) // capacity)
        )
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(TOKEN, min_size=1, max_size=40),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=7),
)
def test_pack_sequences_property(spark, texts, capacity, block_size):
    """The block-partitioned distributed cumsum equals the sequential
    definition for ANY blocking and capacity."""
    from ffi_export_etl_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["id"], r["n_tokens"], r["tok_offset"], r["first_seq"],
         r["offset_in_seq"], r["last_seq"])
        for r in pack_sequences(
            df, capacity=capacity, block_size=block_size
        ).orderBy("id").collect()
    ]
    assert got == py_pack_sequences(texts, capacity)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.tuples(
        st.floats(0.0, 1.0, allow_nan=False),
        st.floats(0.0, 1.0, allow_nan=False),
    ),
)
def test_weighted_sample_property(spark, rows, fracs):
    """For ANY per-group fractions, weighted_sample's kept set is exactly
    the union over groups of hash_sample at that group's rate — and the
    default rate applies to unlisted groups."""
    from ffi_export_etl_spark.operators.sampling import (
        hash_sample,
        weighted_sample,
    )

    fa, fb = fracs
    df = spark.createDataFrame(rows, "k long, g string")
    got = {
        r["k"]
        for r in weighted_sample(
            df, "k", "g", {"a": fa, "b": fb}, default_fraction=0.5
        ).collect()
    }
    want = set()
    for grp, frac in (("a", fa), ("b", fb), ("c", 0.5)):
        want |= {
            r["k"]
            for r in hash_sample(
                df.filter(F.col("g") == grp), "k", frac
            ).collect()
        }
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(TOKEN, min_size=1, max_size=30),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=6),
)
def test_chunk_documents_reconstruction_property(spark, texts, chunk_tokens, overlap):
    """Dropping each chunk's leading `overlap` tokens (except chunk 0)
    and concatenating must reproduce the original token stream exactly,
    for any chunk size / overlap combination."""
    import re

    from ffi_export_etl_spark.operators.textproc import chunk_documents

    if overlap >= chunk_tokens:
        overlap = chunk_tokens - 1
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=overlap
    ).orderBy("id", "chunk_index").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r["chunk_text"])
    for i, t in enumerate(texts):
        toks = re.split(r"\s+", t)
        rebuilt = []
        for j, chunk in enumerate(by_doc[i]):
            ctoks = chunk.split(" ") if chunk else [""] if "" in toks else []
            rebuilt.extend(ctoks[overlap:] if j else ctoks)
        assert rebuilt == toks, (t, chunk_tokens, overlap, by_doc[i])


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_ppm_roundtrip_property(h, w, color, seed):
    """encode_ppm -> decode_pnm is the identity for any uint8 image,
    color or grayscale, any dimensions."""
    import numpy as np

    from ffi_export_etl_spark.operators.media_codecs import (
        decode_pnm,
        encode_ppm,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    arr = rng.integers(0, 256, shape).astype(np.uint8)
    assert np.array_equal(decode_pnm(encode_ppm(arr)), arr)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-50, 50)),
            st.one_of(st.none(), st.sampled_from(["en", "de", "xx", "Zz"])),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_check_suite_counts_property(spark, rows):
    """CheckSuite violation counts == a pure-Python fold over the same
    rows, for every check kind in one single-scan suite."""
    from ffi_export_etl_spark.operators.validate import CheckSuite

    df = spark.createDataFrame(rows, "n: bigint, lang: string")
    rep = {
        r["check"]: r["n_violations"]
        for r in (
            CheckSuite()
            .not_null("n")
            .in_range("n", -10, 10)
            .accepted_values("lang", ["en", "de"])
            .matches("lang", "^[a-z]{2}$")
            .unique("lang")
            .min_rows(3)
            .run(df)
            .collect()
        )
    }
    ns = [r[0] for r in rows]
    langs = [r[1] for r in rows]
    assert rep["not_null:n"] == sum(v is None for v in ns)
    assert rep["in_range:n"] == sum(
        v is None or not (-10 <= v <= 10) for v in ns
    )
    assert rep["accepted_values:lang"] == sum(
        v is None or v not in ("en", "de") for v in langs
    )
    import re as _re

    assert rep["matches:lang"] == sum(
        v is None or not _re.search("^[a-z]{2}$", v) for v in langs
    )
    nonnull = [v for v in langs if v is not None]
    assert rep["unique:lang"] == len(nonnull) - len(set(nonnull))
    assert rep["min_rows:3"] == max(0, 3 - len(rows))


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3),
                  st.integers(-50, 50)),
        min_size=1, max_size=60,
    ),
    st.sampled_from([None, 1, 3, 100]),
)
def test_bucket_pairs_property(spark, rows, cap):
    """bucket_pairs == the naive per-bucket nested loop with the same
    cap/singleton rules, for random bucket keys, duplicate ids, and
    every cap regime — the shared core all five sketch families ride."""
    from ffi_export_etl_spark.operators.bucketpairs import bucket_pairs

    df = spark.createDataFrame(rows, "k1: int, k2: int, id: long")
    got = sorted(
        (r["p"]["id_a"], r["p"]["id_b"], r["p"]["k"])
        for r in bucket_pairs(
            df, ["k1", "k2"], F.col("id"),
            lambda x, y: F.struct(
                x.alias("id_a"), y.alias("id_b"),
                (x + y).alias("k"),
            ),
            cap,
        ).select("p").collect()
    )
    buckets: dict = {}
    for k1, k2, i in rows:
        buckets.setdefault((k1, k2), []).append(i)
    want = []
    for ids in buckets.values():
        if cap is not None and len(ids) > cap:
            continue
        s = sorted(ids)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                want.append((s[i], s[j], s[i] + s[j]))
    assert got == sorted(want)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", None])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.sampled_from([0.0, 0.25, 1.0, 2.5]),
)
def test_epoch_upsample_property(spark, rows, ea):
    """epoch_upsample row-count formula for random corpora and epoch
    values: each row fans to floor(N) + (hash-kept fractional) copies,
    indexes contiguous from 0; replayed by a pure-Python twin on the
    same md5 axis."""
    import math

    from ffi_export_etl_spark.functions.porthash import py_md5_long
    from ffi_export_etl_spark.operators.sampling import (
        HASH_SPACE,
        NULL_KEY_SENTINEL,
        epoch_upsample,
    )

    df = spark.createDataFrame(rows, "id: long, src: string")
    out = epoch_upsample(df, "id", "src", {"a": ea}, 1.0)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["id"], []).append(r["epoch"])
    thr = int((ea - math.floor(ea)) * HASH_SPACE)
    for i, src in rows:
        if src == "a":
            n = int(math.floor(ea))
            h = py_md5_long(
                str(i) if i is not None else NULL_KEY_SENTINEL
            )
            if h < thr:
                n += 1
        else:
            n = 1
        assert sorted(got.get(i, [])) == list(range(n)), (i, src, ea)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-8.0, 8.0, allow_nan=False, allow_infinity=False,
                      width=32),
            min_size=64, max_size=64,
        ),
        min_size=1, max_size=12,
    )
)
def test_literal_pq_encode_matches_general_encode_property(spark, vecs):
    """r10: _pq_codes_literal (zero-shuffle plan-literal argmin) must
    equal pq_encode (explode + broadcast join + two shuffles) on
    ARBITRARY float vectors, code for code — the fixed-corpus equality
    test pins the shipped path; this sweeps the space (ties included:
    equal rounded distances must break to the same cell both ways)."""
    from ffi_export_etl_spark.operators.pq import pq_encode
    from ffi_export_etl_spark.queries.similarity_q import (
        DIM, PQ_M, _pq_codebooks_df, _pq_codes_literal,
    )

    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    )
    cb = _pq_codebooks_df(spark)
    want = {
        r["id"]: list(r["codes"])
        for r in pq_encode(e, cb, DIM, m=PQ_M).collect()
    }
    got = {
        r["id"]: list(r["codes"]) for r in _pq_codes_literal(e).collect()
    }
    assert got == want
