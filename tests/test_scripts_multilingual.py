"""Unicode-script routing + char-shingle dedup for boundary-less scripts
(operators/scripts.py, shingles.char_shingle_table, minhash
shingle_mode="char")."""

from __future__ import annotations

import pytest

from ffi_export_etl_spark.operators.scripts import (
    dominant_script,
    needs_char_shingles,
)
from ffi_export_etl_spark.operators.shingles import (
    build_shingles,
    char_shingle_table,
)
from ffi_export_etl_spark.operators.minhash import minhash_near_duplicates

SAMPLES = [
    (1, "the quick brown fox jumps over the lazy dog", "latin"),
    (2, "Это предложение написано на русском языке", "cyrillic"),
    (3, "今天天气很好我们去公园散步吧", "han"),
    (4, "これはひらがなとカタカナのテストです", "kana"),
    (5, "สวัสดีครับวันนี้อากาศดีมาก", "thai"),
    (6, "안녕하세요 오늘 날씨가 좋네요", "hangul"),
    (7, "مرحبا كيف حالك اليوم", "arabic"),
    (8, "नमस्ते आप कैसे हैं", "devanagari"),
    (9, "Γειά σου τι κάνεις σήμερα", "greek"),
    (10, "12345 !!! ???", "und"),
    (11, "", "und"),
]


def test_dominant_script_labels(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in SAMPLES], "id: long, text: string"
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", dominant_script("text").alias("s")).collect()
    }
    for i, _, want in SAMPLES:
        assert got[i] == want, (i, got[i], want)


def test_needs_char_shingles_routing(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in SAMPLES], "id: long, text: string"
    )
    got = {
        r["id"]: r["r"]
        for r in df.select(
            "id", needs_char_shingles("text").alias("r")
        ).collect()
    }
    # han/kana/thai route to char shingles; worded scripts do not
    assert got[3] and got[4] and got[5]
    assert not got[1] and not got[2] and not got[6] and not got[7]


def test_sql_twin_agrees_on_multilingual_rows(spark):
    """The generated DuckDB CASE chain (queries/text_q._script_case_sql)
    must agree with the Spark operator on rows where the argmax actually
    discriminates — the sf corpora are all-Latin, so the driver pin
    alone exercises only one branch."""
    import duckdb

    from ffi_export_etl_spark.queries.text_q import _script_case_sql

    df = spark.createDataFrame(
        [(i, t) for i, t, _ in SAMPLES], "id: long, text: string"
    )
    got_spark = {
        r["id"]: r["s"]
        for r in df.select("id", dominant_script("text").alias("s")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", [(i, t) for i, t, _ in SAMPLES]
    )
    got_duck = dict(
        con.execute(
            f"SELECT id, {_script_case_sql('text')} FROM docs"
        ).fetchall()
    )
    assert got_spark == got_duck


def test_char_shingles_basic(spark):
    df = spark.createDataFrame([(1, "abcdef")], "id: long, text: string")
    got = {
        r["shingle"]
        for r in char_shingle_table(df, "id", "text", n=3).collect()
    }
    assert got == {"abc", "bcd", "cde", "def"}


def test_char_shingles_whitespace_normalized(spark):
    # formatting-only whitespace differences must not perturb the grams
    df = spark.createDataFrame(
        [(1, "ab  cd"), (2, "ab cd"), (3, "ab\ncd"), (4, " ab cd \n")],
        "id: long, text: string",
    )
    rows = char_shingle_table(df, "id", "text", n=3).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["shingle"])
    # collapse AND trim: leading/trailing whitespace is formatting too
    assert by_id[1] == by_id[2] == by_id[3] == by_id[4]


def test_build_shingles_rejects_unknown_mode(spark):
    df = spark.createDataFrame([(1, "x")], "id: long, text: string")
    with pytest.raises(ValueError, match="word|char"):
        build_shingles(df, "id", "text", 3, mode="byte")


CJK_DOCS = [
    # two near-duplicate Chinese sentences (one char changed) + unrelated
    (1, "今天天气很好我们一起去公园散步吧然后吃午饭"),
    (2, "今天天气很好我们一起去公园散步吧然后吃晚饭"),
    (3, "机器学习模型需要大量高质量的训练数据支持"),
]


def test_word_mode_structurally_blind_to_cjk(spark):
    """Word trigrams require >= 3 whitespace tokens; an unsegmented CJK
    document is ONE token, so the word path yields zero shingles and can
    never pair the two near-duplicates. This is the degradation the
    script router exists to catch."""
    df = spark.createDataFrame(CJK_DOCS, "id: long, text: string")
    sh = build_shingles(df, "id", "text", 3, mode="word")
    assert sh.count() == 0
    pairs = minhash_near_duplicates(df, "id", "text", n=3)
    assert pairs.count() == 0


def test_char_mode_finds_cjk_near_dups(spark):
    df = spark.createDataFrame(CJK_DOCS, "id: long, text: string")
    pairs = minhash_near_duplicates(
        df, "id", "text", n=5, threshold_pct=50, shingle_mode="char"
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_curate_auto_mode_routes_both_scripts(spark):
    """shingle_mode='auto': the English near-dup pair dedups through the
    word path AND the CJK near-dup pair through the char path in one
    curate_documents run — and the quality length rule is script-aware
    (a 20-char CJK doc counts ceil(20/2)=10 effective words, not the 1
    whitespace 'word' that would always fail min_words)."""
    from ffi_export_etl_spark.plans.curation import (
        curate_documents,
        release_curation_caches,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy sleeping dog", "web"),
        (2, "the quick brown fox jumps over the lazy sleeping cat", "web"),
        (3, CJK_DOCS[0][1], "web"),
        (4, CJK_DOCS[1][1], "web"),
        (5, "a completely unrelated document about distributed query "
            "engines and shuffles", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id: long, text: string, source: string"
    )

    def kept(mode, min_words):
        out = curate_documents(
            docs, min_words=min_words, jaccard_threshold_pct=50,
            shingle_mode=mode,
        )
        got = {
            r["id"]: r["n_words"]
            for r in out.select("id", "n_words").collect()
        }
        release_curation_caches(out)
        return got

    # min_words=8: every doc passes under its script's effective count
    auto = kept("auto", 8)
    assert set(auto) == {1, 3, 5}
    # ceil(chars / 2), not the 1 whitespace token word mode would count
    assert auto[3] == -(-len(CJK_DOCS[0][1]) // 2)
    # word mode cannot pair the CJK docs AND its whitespace word count
    # quality-drops them — the double degradation auto mode exists for
    word = kept("word", 8)
    assert set(word) == {1, 5}
    # with the length rule out of the way, word mode keeps both copies
    assert set(kept("word", 1)) == {1, 3, 4, 5}


def test_char_mode_store_roundtrip(tmp_path, spark):
    """The incremental signature store works identically under char
    mode (the LSH layers are shingle-agnostic)."""
    from ffi_export_etl_spark.operators.minhash import (
        incremental_candidate_pairs,
        minhash_signature_store_with_sigs,
    )

    df = spark.createDataFrame(CJK_DOCS, "id: long, text: string")
    stored = minhash_signature_store_with_sigs(
        df.filter("id = 1"), "id", "text", shingle_mode="char"
    )
    path = str(tmp_path / "store")
    stored.write.parquet(path)
    new = minhash_signature_store_with_sigs(
        df.filter("id >= 2"), "id", "text", shingle_mode="char"
    )
    got = incremental_candidate_pairs(new, spark.read.parquet(path))
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == {(1, 2)}
