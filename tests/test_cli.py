"""CLI entry-point parity test (reference xml_to_rdb.py main()): config
file -> export scan -> pipeline -> keyed parquet warehouse, idempotent on
rerun via the ledger."""

from __future__ import annotations

import pytest

import json
import os

from ffi_export_etl_spark.__main__ import main
from tests.ffi_fixture import write_export_xml


def test_cli_main_processes_exports(spark, tmp_path, capsys):
    exports = tmp_path / "data"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    warehouse = tmp_path / "warehouse"
    ini = tmp_path / "config.ini"
    ini.write_text(
        f"[Paths]\ndata = {exports}\nwarehouse = {warehouse}\n"
    )

    assert main(["--config", str(ini)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "export1.xml" in out
    assert out["export1.xml"].get("SampleEvent", 0) > 0
    assert os.path.isdir(warehouse / "SampleEvent")

    # rerun: ledger makes the file a no-op
    assert main(["--config", str(ini)]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2 == {}


def test_cli_jdbc_flag_requires_db_section(tmp_path, capsys):
    ini = tmp_path / "config.ini"
    ini.write_text("[Paths]\ndata = x\n")
    assert main(["--config", str(ini), "--jdbc"]) == 2


def test_cli_jdbc_flag_builds_url(tmp_path, capsys):
    ini = tmp_path / "config.ini"
    ini.write_text(
        "[SQLServer]\ntype = SQLServer\nserver = dbhost\n"
        "database = FFI\nuser = u\npassword = p\n"
    )
    assert main(["--config", str(ini), "--jdbc"]) == 2
    err = capsys.readouterr().err
    assert "jdbc:sqlserver://dbhost:1433;databaseName=FFI" in err


def test_cli_curate_subcommand(spark, tmp_path, capsys):
    """curate subcommand: parquet corpus in, ordered shards + one JSON
    line of counts out; the blocklist flag drops the spam domain."""
    docs = spark.createDataFrame(
        [
            (
                i,
                f"https://{'spam.bad' if i == 9 else f'site{i}.example'}/p",
                "s0",
                " ".join(f"w{i}_{j}" for j in range(30)),
            )
            for i in range(10)
        ],
        "doc_id: long, url: string, source: string, text: string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "shards")

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate", "--input", src, "--output", out,
        "--min-words", "10", "--capacity", "64",
        "--rows-per-shard", "4",
        "--url-col", "url", "--block-domain", "spam.bad",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_in"] == 10 and report["docs_out"] == 9
    assert report["n_shards"] >= 3
    total = spark.read.parquet(out).count()
    assert total == 9

    # --shard-format orc: same counts, ORC shard files, parquet manifest
    out_orc = str(tmp_path / "shards_orc")
    rc = main([
        "curate", "--input", src, "--output", out_orc,
        "--min-words", "10", "--capacity", "64",
        "--rows-per-shard", "4", "--shard-format", "orc",
        "--url-col", "url", "--block-domain", "spam.bad",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_out"] == 9
    import glob
    assert glob.glob(out_orc + "/part-*.orc")
    assert spark.read.orc(out_orc).count() == 9
    assert spark.read.parquet(out_orc + "/_manifest").count() == report["n_shards"]


def test_cli_curate_input_quality_gate(spark, tmp_path, capsys):
    """--require-input-quality: a duplicate-id corpus exits 2 with a JSON
    error naming the failed check; a clean corpus passes the gate."""
    from ffi_export_etl_spark.__main__ import main

    bad = spark.createDataFrame(
        [(1, "s", " ".join(f"a{j}" for j in range(30))),
         (1, "s", " ".join(f"b{j}" for j in range(30)))],
        "doc_id: long, source: string, text: string",
    )
    src = str(tmp_path / "bad")
    bad.write.parquet(src)
    rc = main(["curate", "--input", src,
               "--output", str(tmp_path / "o"),
               "--require-input-quality"])
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "unique:doc_id" in err["error"]

    good = spark.createDataFrame(
        [(1, "s", " ".join(f"a{j}" for j in range(30))),
         (2, "s", " ".join(f"b{j}" for j in range(30)))],
        "doc_id: long, source: string, text: string",
    )
    src2 = str(tmp_path / "good")
    good.write.parquet(src2)
    rc = main(["curate", "--input", src2,
               "--output", str(tmp_path / "o2"),
               "--min-words", "5", "--require-input-quality"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_in"] == 2

    # a corpus MISSING the id column reports JSON + exit 2, not a traceback
    noid = spark.createDataFrame(
        [(" ".join(f"c{j}" for j in range(30)), "s")], "text: string, source: string"
    )
    src3 = str(tmp_path / "noid")
    noid.write.parquet(src3)
    rc = main(["curate", "--input", src3,
               "--output", str(tmp_path / "o3"),
               "--require-input-quality"])
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "doc_id" in err["error"]


def test_cli_curate_containment_requires_benchmark(tmp_path, capsys):
    """--decon-containment-pct without --benchmark is an argparse error,
    not a silent no-op decontamination."""
    import pytest as _pytest

    from ffi_export_etl_spark.__main__ import main

    with _pytest.raises(SystemExit) as ei:
        main(["curate", "--input", "x", "--output", str(tmp_path / "o"),
              "--decon-containment-pct", "70"])
    assert ei.value.code == 2
    assert "--benchmark" in capsys.readouterr().err


@pytest.mark.slow_tail  # r12 suite split
def test_cli_curate_quality_threshold_flags(spark, tmp_path, capsys):
    """The repetition-threshold and LM flags reach curate_documents: a
    top-bigram spam doc is dropped only when the flag is passed, and a
    gibberish doc is dropped by the LM cut against a reference corpus."""
    clean_rows = [
        (i, "s0", " ".join(f"w{i}_{j} common clean words" for j in range(8)))
        for i in range(8)
    ]
    docs = spark.createDataFrame(
        clean_rows + [(50, "s0", "buy now " * 30)],
        "doc_id: long, source: string, text: string",
    )
    src = str(tmp_path / "docs2")
    docs.write.parquet(src)

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate", "--input", src, "--output", str(tmp_path / "o1"),
        "--min-words", "5",
    ])
    assert rc == 0
    base = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert base["docs_out"] == 9  # spam survives without the flag

    rc = main([
        "curate", "--input", src, "--output", str(tmp_path / "o2"),
        "--min-words", "5", "--max-top-bigram-frac", "0.5",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_out"] == 8  # spam dropped

    # LM cut: reference = the clean docs; gibberish scores far worse
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [(t,) for _, _, t in clean_rows], "text: string"
    ).write.parquet(ref)
    docs3 = spark.createDataFrame(
        clean_rows + [(60, "s0", "zxqv plugh xyzzy " * 10)],
        "doc_id: long, source: string, text: string",
    )
    src3 = str(tmp_path / "docs3")
    docs3.write.parquet(src3)
    # derive a cut that splits clean from gibberish on THIS model
    from ffi_export_etl_spark.operators.lmscore import (
        score_documents,
        train_bigram_lm,
    )

    bigrams, unigrams, vocab = train_bigram_lm(spark.read.parquet(ref))
    scores = {
        r.id: r.avg_neg_logprob
        for r in score_documents(
            docs3, bigrams, unigrams, vocab, id_col="doc_id"
        ).collect()
    }
    cut = (max(scores[i] for i, _, _ in clean_rows) + scores[60]) / 2
    rc = main([
        "curate", "--input", src3, "--output", str(tmp_path / "o3"),
        "--min-words", "5", "--lm-reference", ref,
        "--max-avg-neg-logprob", str(cut),
    ])
    assert rc == 0
    lm = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lm["docs_out"] == 8  # gibberish dropped by the LM cut


@pytest.mark.slow_tail  # r12 suite split
def test_cli_curate_stream_subcommand(spark, tmp_path, capsys):
    """curate-stream subcommand: two waves drained through the
    incremental pipeline with all four stores; the cross-wave exact dup
    drops and the shared run is span-cut from the wave-2 survivor."""
    import os

    base = " ".join(f"cs{i}" for i in range(25))
    boiler = "alpha beta gamma delta"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, f"{base} {boiler}", "web")],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(os.path.join(src, "w1"))
    spark.createDataFrame(
        [
            (2, f"{' '.join(f'fresh{i}' for i in range(25))} {boiler}", "web"),
            (3, f"{base} {boiler}", "web"),  # exact dup of doc 1
        ],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(os.path.join(src, "w2"))

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate-stream",
        "--source-dir", os.path.join(src, "w*"),
        "--kept", str(tmp_path / "kept"),
        "--exact-store", str(tmp_path / "ex"),
        "--minhash-store", str(tmp_path / "mh"),
        "--span-store", str(tmp_path / "sp"),
        "--checkpoint", str(tmp_path / "ck"),
        "--min-words", "5", "--jaccard-threshold-pct", "50",
        "--span-dedup-tokens", "4",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["kept_rows"] == 2 and report["exact_store_rows"] == 2
    assert report["span_store_rows"] > 0
    kept = {
        r["id"]: r["text"]
        for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    }
    assert set(kept) == {1, 2}
    assert "alpha" in kept[1] and "alpha" not in kept[2]

    # advisor no-op case: a second drain on the SAME checkpoint (every
    # source file already consumed) against FRESH output roots processes
    # zero batches and leaves no kept dir — must exit 0 with a JSON
    # line, not an AnalysisException traceback
    rc = main([
        "curate-stream",
        "--source-dir", os.path.join(src, "w*"),
        "--kept", str(tmp_path / "kept2"),
        "--exact-store", str(tmp_path / "ex2"),
        "--minhash-store", str(tmp_path / "mh2"),
        "--span-store", str(tmp_path / "sp2"),
        "--checkpoint", str(tmp_path / "ck"),
        "--min-words", "5", "--jaccard-threshold-pct", "50",
        "--span-dedup-tokens", "4",
    ])
    assert rc == 0
    noop = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert noop["kept_rows"] == 0 and "note" in noop


@pytest.mark.slow_tail  # r12 suite split
def test_cli_curate_stream_quality_gate(spark, tmp_path, capsys):
    """curate-stream --require-input-quality --quarantine: the bad wave
    (duplicate ids) is diverted and reported; the clean wave curates."""
    import os

    src = str(tmp_path / "srcq")
    os.makedirs(src)
    good = " ".join(f"g{i}" for i in range(25))
    spark.createDataFrame(
        [(1, good, "web")], "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(os.path.join(src, "w1"))
    spark.createDataFrame(
        [(5, good + " tail", "web"), (5, "other words " * 10, "web")],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(os.path.join(src, "w2"))

    from ffi_export_etl_spark.__main__ import main

    quarantine = str(tmp_path / "quar")
    rc = main([
        "curate-stream",
        "--source-dir", os.path.join(src, "w*"),
        "--kept", str(tmp_path / "keptq"),
        "--exact-store", str(tmp_path / "exq"),
        "--minhash-store", str(tmp_path / "mhq"),
        "--checkpoint", str(tmp_path / "ckq"),
        "--min-words", "5",
        "--require-input-quality", "--quarantine", quarantine,
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["kept_rows"] == 1
    assert report["quarantined_rows"] == 2
    quar = spark.read.parquet(quarantine).collect()
    assert all("unique:doc_id" in r["_dq_error"] for r in quar)

    # --quarantine without the gate flag is an argparse error
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main([
            "curate-stream",
            "--source-dir", os.path.join(src, "w*"),
            "--kept", str(tmp_path / "k2"),
            "--exact-store", str(tmp_path / "e2"),
            "--minhash-store", str(tmp_path / "m2"),
            "--checkpoint", str(tmp_path / "c2"),
            "--quarantine", quarantine,
        ])


def test_cli_curate_input_html(spark, tmp_path, capsys):
    """--input-html: HTML corpora are extracted to plain text before any
    curation stage — markup never reaches the quality filter (the tag
    soup would otherwise inflate word counts), and the shard text is
    the extracted prose."""
    docs = spark.createDataFrame(
        [
            (
                i,
                "s0",
                "<html><head><title>t</title><style>p{x:1}</style></head>"
                "<body><p>" + " ".join(f"w{i}_{j}" for j in range(30))
                + "</p><script>var a_b_c_d_e_f_g_h_i_j_k = 1;</script>"
                "</body></html>",
            )
            for i in range(6)
        ],
        "doc_id: long, source: string, text: string",
    )
    src = str(tmp_path / "html_docs")
    docs.write.parquet(src)
    out = str(tmp_path / "html_shards")

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate", "--input", src, "--output", out,
        "--min-words", "10", "--capacity", "64",
        "--rows-per-shard", "4", "--input-html",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_in"] == 6 and report["docs_out"] == 6
    texts = [r["text"] for r in spark.read.parquet(out).collect()]
    assert all("<" not in t and "var" not in t and "title" not in t
               for t in texts)
    assert all(t.startswith("w") for t in texts)


def test_cli_profile_subcommand(spark, tmp_path, capsys):
    """profile subcommand: one-scan profile JSON, --save snapshot,
    --drift-against an earlier snapshot, and --from-store folding."""
    d1 = spark.createDataFrame(
        [(i, "en", f"text {i}") for i in range(100)],
        "doc_id: long, lang: string, text: string",
    )
    d2 = spark.createDataFrame(
        [(i, "en" if i % 2 else None, f"text {i}") for i in range(300)],
        "doc_id: long, lang: string, text: string",
    )
    p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    d1.write.parquet(p1)
    d2.write.parquet(p2)
    snap = str(tmp_path / "snap")

    from ffi_export_etl_spark.__main__ import main

    rc = main(["profile", "--input", p1, "--save", snap])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    prof = {r["column"]: r for r in rep["profile"]}
    assert prof["doc_id"]["n_rows"] == 100
    assert prof["doc_id"]["min_val"] == "0"
    assert "drift" not in rep

    # drift: tripled rows + lang nulls appeared
    rc = main(["profile", "--input", p2, "--drift-against", snap])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    drift = {r["column"]: r for r in rep["drift"]}
    assert "row_volume" in drift["doc_id"]["drift_reasons"]
    assert "null_frac" in drift["lang"]["drift_reasons"]

    # incremental store: append both tables, fold without rescanning
    store = str(tmp_path / "pstore_cli")
    assert main(["profile", "--input", p1, "--append-store", store]) == 0
    assert main(["profile", "--input", p2, "--append-store", store]) == 0
    capsys.readouterr()
    assert main(["profile", "--from-store", store]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    prof = {r["column"]: r for r in rep["profile"]}
    assert prof["doc_id"]["n_rows"] == 400
    assert prof["doc_id"]["n_nonnull"] == 400
    assert prof["lang"]["n_nonnull"] == 100 + 150


def test_cli_curate_c4_and_gopher(spark, tmp_path, capsys):
    """--c4-line-clean drops nav junk lines and lorem-ipsum pages;
    --gopher-rules drops symbol-soup docs the length filter passes."""
    good = ("the quick brown fox jumps over that lazy dog and we have "
            "watched it repeatedly. " * 4)
    docs = spark.createDataFrame(
        [
            (1, "s0", good + "\nHome About Contact\n" + good),
            (2, "s0", good + " lorem ipsum dolor."),       # page drop
            (3, "s0", ("the of and to " + "# " * 30 + "word. ") * 6),  # symbols
            (4, "s0", "all of those winter evenings were spent with the "
                  "family reading books that we have kept for years. " * 4),
        ],
        "doc_id: long, source: string, text: string",
    )
    src = str(tmp_path / "qr_docs")
    docs.write.parquet(src)
    out = str(tmp_path / "qr_shards")

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate", "--input", src, "--output", out,
        "--min-words", "10", "--c4-line-clean", "--gopher-rules",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["docs_in"] == 4
    rows = {r["id"]: r["text"] for r in spark.read.parquet(out).collect()}
    # doc 2 page-dropped, doc 3 gopher symbol_ratio-dropped
    assert set(rows) == {1, 4}
    assert "Home About Contact" not in rows[1]


def test_cli_curate_temperature_mix(spark, tmp_path, capsys):
    """--temperature-alpha: small sources keep a larger share than the
    natural distribution would give them."""
    rows = [
        (i, "big" if i < 170 else "small",
         " ".join(f"u{i}w{j}" for j in range(25)))
        for i in range(200)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id: long, source: string, text: string"
    )
    src = str(tmp_path / "tmix")
    docs.write.parquet(src)
    out = str(tmp_path / "tmix_out")

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate", "--input", src, "--output", out,
        "--min-words", "10",
        "--temperature-alpha", "0.5", "--temperature-budget", "100",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = spark.read.parquet(out)
    by_src = {r[0]: r[1] for r in kept.groupBy("source").count().collect()}
    # natural share of 'small' is 15%; sqrt mixing roughly doubles it
    frac_small = by_src.get("small", 0) / report["docs_out"]
    assert frac_small > 0.2, by_src


def test_cross_audit_cli(spark, tmp_path, capsys):
    """cross-audit end to end: pairs only from A x B, JSON summary
    counts distinct matched docs per side."""
    import json as _json

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again today it runs")
    a = str(tmp_path / "corpus_a")
    b = str(tmp_path / "corpus_b")
    spark.createDataFrame(
        [(1, base), (2, "unrelated alpha words " * 5)],
        "doc_id: long, text: string",
    ).write.parquet(a)
    spark.createDataFrame(
        [(10, base + " ok"), (11, base.replace("today", "tonight")),
         (12, "different beta stuff " * 5)],
        "doc_id: long, text: string",
    ).write.parquet(b)
    out = str(tmp_path / "pairs")

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "cross-audit", "--corpus-a", a, "--corpus-b", b,
        "--output", out, "--jaccard-threshold-pct", "50",
    ])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {(r["id_a"], r["id_b"])
           for r in spark.read.parquet(out).collect()}
    assert got == {(1, 10), (1, 11)}, got
    assert rep["n_pairs"] == 2
    assert rep["n_a_docs_with_match"] == 1
    assert rep["n_b_docs_with_match"] == 2


def test_verify_shards_cli(spark, tmp_path, capsys):
    """verify-shards end to end: clean corpus exits 0; a corrupted
    (donor-swapped) shard flips the exit to 1 and is named; a manifest
    without checksums exits 2."""
    import json as _json
    import os
    import shutil

    from ffi_export_etl_spark.__main__ import main
    from ffi_export_etl_spark.sinks.shards import write_training_shards

    docs = spark.createDataFrame(
        [(i, f"text {i} " * 5) for i in range(500)],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "shards_ok")
    write_training_shards(
        docs, path, "doc_id", rows_per_shard=100, checksums=True
    )
    rc = main(["verify-shards", "--path", path])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["n_failed"] == 0 and rep["n_shards"] > 1

    # donor-swap one shard file (and its crc sidecar, like the sinks
    # corruption test: object stores have none)
    files = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    a, b = os.path.join(path, files[0]), os.path.join(path, files[1])
    shutil.copyfile(b, a)
    for f in (files[0],):
        crc = os.path.join(path, "." + f + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
    rc = main(["verify-shards", "--path", path])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and rep["failed"] == [files[0]], rep

    # no checksums -> exit 2
    path2 = str(tmp_path / "shards_nock")
    write_training_shards(docs, path2, "doc_id", rows_per_shard=100)
    rc = main(["verify-shards", "--path", path2])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "error" in rep


@pytest.mark.slow_tail  # r12 suite split
def test_cli_curate_replay_quarantine(spark, tmp_path, capsys):
    """curate-replay-quarantine subcommand: a wave diverted by a broken
    ad-hoc rule re-enters the kept corpus under the CLI's (correct)
    default suite; the JSON report carries the unit/row accounting and
    the DLQ drains."""
    import os

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import streaming_curate

    src = str(tmp_path / "srcrr")
    os.makedirs(src)
    good = " ".join(f"g{i}" for i in range(25))
    spark.createDataFrame(
        [(1, good, "web")], "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(os.path.join(src, "w1"))
    spark.createDataFrame(
        [(50, "other words " * 10, "web")],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(os.path.join(src, "w2"))

    kept = str(tmp_path / "keptrr")
    exact = str(tmp_path / "exrr")
    mh = str(tmp_path / "mhrr")
    quarantine = str(tmp_path / "quarrr")
    # broken rule: ids above 5 wrongly rejected -> wave 2 diverted
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "w*"),
        kept_path=kept,
        exact_store_path=exact,
        minhash_store_path=mh,
        checkpoint=str(tmp_path / "ckrr"),
        min_words=5,
        input_suite=(
            CheckSuite().not_null("doc_id").unique("doc_id")
            .in_range("doc_id", 0, 5)
        ),
        quarantine_path=quarantine,
    )
    assert spark.read.parquet(quarantine).count() == 1

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate-replay-quarantine",
        "--quarantine", quarantine,
        "--kept", kept,
        "--exact-store", exact,
        "--minhash-store", mh,
        "--min-words", "5",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["units_passed"] == 1 and report["units_failed"] == 0
    assert report["replayed_rows"] == 1 and report["residual_rows"] == 0
    from ffi_export_etl_spark.streaming.events import read_generations

    assert {
        r["id"] for r in read_generations(spark, kept).collect()
    } == {1, 50}
    import glob as _glob

    assert not _glob.glob(os.path.join(quarantine, "batch_id=*"))
    assert not _glob.glob(os.path.join(quarantine, "compacted=*"))


@pytest.mark.slow_tail  # r12 suite split
def test_cli_curate_maintain(spark, tmp_path, capsys):
    """curate-maintain: folds the kept corpus's (and quarantine's)
    committed batch dirs into single generations; row counts preserved;
    idempotent rerun."""
    import glob as _glob
    import os

    from ffi_export_etl_spark.operators.validate import CheckSuite
    from ffi_export_etl_spark.streaming.curate import streaming_curate
    from ffi_export_etl_spark.streaming.events import read_generations

    src = str(tmp_path / "srcm")
    os.makedirs(src)
    good = " ".join(f"m{i}" for i in range(25))
    for i, wave in enumerate(
        [[(1, good, "web")],
         [(2, " ".join(f"z{i}" for i in range(25)), "web")],
         [(9, good, "web"), (9, good, "web")]]  # dup ids -> quarantined
    ):
        spark.createDataFrame(
            wave, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(os.path.join(src, f"w{i}"))
    kept = str(tmp_path / "keptm")
    quarantine = str(tmp_path / "quarm")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "w*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exm"),
        minhash_store_path=str(tmp_path / "mhm"),
        checkpoint=str(tmp_path / "ckm"),
        min_words=5,
        jaccard_threshold_pct=90,
        input_suite=CheckSuite().not_null("doc_id").unique("doc_id"),
        quarantine_path=quarantine,
    )
    assert len(_glob.glob(os.path.join(kept, "batch_id=*"))) >= 2

    from ffi_export_etl_spark.__main__ import main

    rc = main([
        "curate-maintain", "--kept", kept, "--quarantine", quarantine,
        "--num-files", "1",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["kept_rows"] == 2 and rep["quarantined_rows"] == 2
    assert rep["kept_generation"] >= 0
    assert not _glob.glob(os.path.join(kept, "batch_id=*"))
    assert not _glob.glob(os.path.join(quarantine, "batch_id=*"))
    assert {
        r["id"] for r in read_generations(spark, kept).collect()
    } == {1, 2}

    # idempotent rerun: nothing to fold, counts unchanged
    rc = main(["curate-maintain", "--kept", kept,
               "--quarantine", quarantine])
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["kept_rows"] == 2 and rep2["quarantined_rows"] == 2

    # an empty / never-drained kept root is a clean zero-work report,
    # not a traceback (review r8 — the cron-before-first-drain case)
    rc = main(["curate-maintain", "--kept", str(tmp_path / "no_kept")])
    assert rc == 0
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3 == {"kept_generation": -1, "kept_rows": 0}
    # ... and so is an absent quarantine root: it folds and counts
    # through the same layout as the kept corpus
    rc = main(["curate-maintain", "--kept", str(tmp_path / "no_kept"),
               "--quarantine", str(tmp_path / "no_quarantine")])
    assert rc == 0
    rep3q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3q == {
        "kept_generation": -1, "kept_rows": 0,
        "quarantine_generation": -1, "quarantined_rows": 0,
    }

    # --exact-store/--minhash-store: the signature stores fold into
    # compacted generations (compact_signature_store); a pointed-
    # at-but-never-drained store is a clean -1, and the daemon reads
    # the folded view back transparently (library-pinned in
    # test_store_fold; here: CLI wiring + JSON contract)
    rc = main([
        "curate-maintain", "--kept", kept,
        "--exact-store", str(tmp_path / "exm"),
        "--minhash-store", str(tmp_path / "mhm"),
        "--span-store", str(tmp_path / "never_drained_span"),
    ])
    assert rc == 0
    rep4 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep4["exact_store_generation"] >= 0
    assert rep4["minhash_store_generation"] >= 0
    assert rep4["span_store_generation"] == -1
    assert "exact_store_table" not in rep4
    # consumed dirs are gone; only dirs above the generation remain
    # (the newest committed dir is always held back — replay headroom)
    remaining = [
        int(p.rsplit("=", 1)[1])
        for p in _glob.glob(os.path.join(str(tmp_path / "exm"),
                                         "batch_id=*"))
    ]
    assert all(i > rep4["exact_store_generation"] for i in remaining)
    assert _glob.glob(os.path.join(
        str(tmp_path / "exm"),
        f"compacted={rep4['exact_store_generation']}", "*.parquet",
    ))
