"""The curation funnel: the per-stage survival audit over the composed
pipeline — "which stage shrank my corpus". The funnel rows come from
the frames the pipeline actually flowed (curate_documents' ``funnel``
collector kwarg, counted by count_funnel_stages — the calls the CLI's
``curate --funnel`` makes), so the core contract is that the report
CANNOT drift from a plain curate_documents run with the same arguments.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.plans.curation import (
    count_funnel_stages,
    curate_documents,
    release_curation_caches,
)

BOILER = "subscribe to our newsletter now"
LONG = " ".join(f"w{i}" for i in range(40))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # two exact-content near-dups (one keeper survives)
        (1, LONG + "\n" + BOILER, "web"),
        (2, LONG + "\n" + BOILER, "web"),
        # too short for min_words=20
        (3, "tiny doc", "web"),
        # unique and long
        (4, " ".join(f"u{i}" for i in range(40)) + "\n" + BOILER, "books"),
        (5, " ".join(f"v{i}" for i in range(40)), "books"),
        # contaminated against the benchmark below
        (6, "the quick brown fox jumps over the lazy dog " * 6, "web"),
    ]
    return spark.createDataFrame(
        rows, "doc_id: long, text: string, source: string"
    )


@pytest.fixture(scope="module")
def bench_set(spark):
    return spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog " * 3)],
        "bench_id: long, text: string",
    )


KW = dict(min_words=20, jaccard_threshold_pct=50, capacity=64)


def _funnel(docs, **kwargs) -> list[dict]:
    """[{stage, docs, chars}] for one curate_documents run, ending with
    the "packed_output" row — the CLI's ``curate --funnel`` calls."""
    stages: list = []
    out = curate_documents(docs, funnel=stages, **kwargs)
    try:
        return count_funnel_stages(stages, out)
    finally:
        release_curation_caches(out)


def test_funnel_matches_plain_pipeline_and_orders_stages(
    spark, docs, bench_set
):
    report = _funnel(
        docs, benchmark=bench_set, boilerplate_min_docs=3, **KW
    )
    stages = [r["stage"] for r in report]
    assert stages == [
        "input", "decontaminate", "boilerplate_lines", "scrub",
        "neardup_keepers", "min_words", "packed_output",
    ]
    by = {r["stage"]: r for r in report}
    assert by["input"]["docs"] == 6
    assert by["decontaminate"]["docs"] == 5        # doc 6 dropped
    # boilerplate is a REWRITE stage: docs constant, chars shrink
    assert by["boilerplate_lines"]["docs"] == 5
    assert by["boilerplate_lines"]["chars"] < by["decontaminate"]["chars"]
    assert by["neardup_keepers"]["docs"] == 4      # 1/2 collapse
    assert by["min_words"]["docs"] == 3            # doc 3 dropped
    # the terminal row equals a PLAIN pipeline run with the same args —
    # the no-drift contract
    plain = curate_documents(
        docs, benchmark=bench_set, boilerplate_min_docs=3, **KW
    )
    assert by["packed_output"]["docs"] == plain.count()
    release_curation_caches(plain)
    # docs counts are monotone nonincreasing (no epoch stage enabled)
    counts = [r["docs"] for r in report]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_funnel_reflects_enabled_stages_only(spark, docs):
    report = _funnel(docs, **KW)
    assert [r["stage"] for r in report] == [
        "input", "scrub", "neardup_keepers", "min_words", "packed_output",
    ]


def test_funnel_epoch_stage_grows_docs(spark, docs):
    report = _funnel(
        docs, epochs={"books": 2.0}, **KW
    )
    by = {r["stage"]: r for r in report}
    assert "epoch_upsample" in by
    assert by["epoch_upsample"]["docs"] > by["min_words"]["docs"]
    assert by["packed_output"]["docs"] == by["epoch_upsample"]["docs"]


@pytest.mark.slow_tail  # r12 suite split
def test_funnel_marks_structural_stages(spark):
    """Mark-coverage, structural group: url dedup, blocklist,
    decontamination, boilerplate, paragraph dedup, span dedup (the
    pre-scrub rewrite/drop stages — a typo'd or dropped mark in a
    rarely-enabled branch would vanish silently otherwise). Kept to ONE
    optional-stage group: funnel counting re-executes the upstream plan
    per boundary, so a fully-composed everything-on fixture multiplies
    every heavy branch into every count (measured: minutes on 6 docs)."""
    long_a = " ".join(f"a{i}" for i in range(60))
    long_b = " ".join(f"b{i}" for i in range(60))
    para = "repeated paragraph body here with quite a few words"
    docs = spark.createDataFrame(
        [
            (1, long_a + "\n" + BOILER + "\n\n" + para,
             "web", "http://ok.com/x?utm_source=1"),
            (2, long_a + "\n" + BOILER + "\n\n" + para,
             "web", "http://ok.com/x"),
            (3, long_b + "\n" + BOILER + "\n\n" + para,
             "web", "http://ok.com/y"),
            (4, "short words only here", "web", "http://spam.example/z"),
            (5, " ".join(f"c{i}" for i in range(60)), "books",
             "http://ok.com/w"),
            (6, "the quick brown fox jumps over the lazy dog " * 8,
             "web", "http://ok.com/v"),
        ],
        "doc_id: long, text: string, source: string, url: string",
    )
    bench = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog " * 3)],
        "bench_id: long, text: string",
    )
    report = _funnel(
        docs,
        url_col="url",
        dedup_urls=True,
        domain_blocklist=["spam.example"],
        benchmark=bench,
        boilerplate_min_docs=3,
        paragraph_min_repeat=3,
        span_dedup_tokens=8,
        min_words=5,
        jaccard_threshold_pct=50,
        capacity=64,
    )
    stages = [r["stage"] for r in report]
    assert stages == [
        "input", "url_dedup", "domain_blocklist", "decontaminate",
        "boilerplate_lines", "paragraph_dedup", "span_dedup", "scrub",
        "neardup_keepers", "min_words", "packed_output",
    ]
    by = {r["stage"]: r for r in report}
    assert by["url_dedup"]["docs"] == 5        # utm variant collapsed
    assert by["domain_blocklist"]["docs"] == 4


def test_funnel_marks_quality_and_mixture_stages(spark):
    """Mark-coverage, quality/mixture group: repetition, compression,
    LM (explicit small reference — a self-referential LM would nest the
    whole pipeline into its own training plan), mixture, budget,
    temperature, epochs."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(60)), "web"),
            (2, " ".join(f"b{i}" for i in range(60)), "web"),
            (3, " ".join(f"c{i}" for i in range(60)), "books"),
        ],
        "doc_id: long, text: string, source: string",
    )
    ref = spark.createDataFrame(
        [(" ".join(f"a{i}" for i in range(60)),)], "text: string"
    )
    report = _funnel(
        docs,
        max_dup_line_frac=0.9,
        max_top_bigram_frac=0.9,
        compression_ratio_bounds=(0.01, 50.0),
        lm_reference=ref,
        max_avg_neg_logprob=1e9,
        mixture={"web": 1.0, "books": 1.0},
        token_budgets={"web": 10_000, "books": 10_000},
        temperature_alpha=1.0,
        epochs={"books": 2.0},
        min_words=5,
        jaccard_threshold_pct=50,
        capacity=64,
    )
    stages = [r["stage"] for r in report]
    assert stages == [
        "input", "scrub", "neardup_keepers", "min_words",
        "repetition_filters", "compression_bounds", "lm_filter",
        "mixture_sample", "token_budget", "temperature_sample",
        "epoch_upsample", "packed_output",
    ]
    by = {r["stage"]: r for r in report}
    assert by["epoch_upsample"]["docs"] >= by["temperature_sample"]["docs"]


def test_funnel_c4_and_gopher_marks(spark):
    """The two stages the big fixture above can't carry (C4 empties a
    punctuation-less corpus; gopher needs prose-shaped docs)."""
    prose = (
        "This is a perfectly normal sentence with plenty of words in "
        "it. " * 8
    )
    docs = spark.createDataFrame(
        [(1, prose, "web"), (2, "no terminal punctuation here " * 12,
                             "web")],
        "doc_id: long, text: string, source: string",
    )
    report = _funnel(
        docs, c4_line_clean=True, gopher_rules=True,
        min_words=5, jaccard_threshold_pct=50, capacity=64,
    )
    stages = [r["stage"] for r in report]
    assert "c4_line_clean" in stages and "gopher_rules" in stages
    by = {r["stage"]: r for r in report}
    # the C4 line rule strips doc 2's unpunctuated line (docs constant —
    # page-drop fires on boilerplate markers, not emptiness; the
    # emptied doc falls at min_words instead)
    assert by["c4_line_clean"]["docs"] == 2
    assert by["c4_line_clean"]["chars"] < by["input"]["chars"]
    assert by["min_words"]["docs"] == 1


def test_funnel_kwarg_default_is_inert(spark, docs):
    """funnel=None (the production default) changes nothing: same
    output as before the instrumentation existed."""
    a = curate_documents(docs, **KW)
    ids = sorted(r["id"] for r in a.collect())
    release_curation_caches(a)
    b = curate_documents(docs, funnel=None, **KW)
    assert sorted(r["id"] for r in b.collect()) == ids
    release_curation_caches(b)


def test_streaming_funnel_store_per_batch(spark, docs, tmp_path):
    """funnel_store_path: one survival row-set per micro-batch, slot-
    overwritten like every sink — per-batch terminal docs equal the
    batch's kept rows, and the exact-dup wave shows its drop at the
    exact_filter stage, not at input."""
    import os

    from ffi_export_etl_spark.streaming.curate import streaming_curate

    src = str(tmp_path / "srcf")
    os.makedirs(src)
    base = " ".join(f"s{i}" for i in range(30))
    waves = [
        [(1, base, "web"), (2, " ".join(f"t{i}" for i in range(30)), "web")],
        [(3, base, "web"),                     # exact dup of stored 1
         (4, " ".join(f"q{i}" for i in range(30)), "web")],
    ]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id: long, text: string, source: string"
        ).coalesce(1).write.parquet(os.path.join(src, f"w{i}"))
    kept = str(tmp_path / "keptf")
    funnel_store = str(tmp_path / "funnelf")
    streaming_curate(
        spark,
        source_dir=os.path.join(src, "w*"),
        kept_path=kept,
        exact_store_path=str(tmp_path / "exf"),
        minhash_store_path=str(tmp_path / "mhf"),
        checkpoint=str(tmp_path / "ckf"),
        min_words=5,
        jaccard_threshold_pct=50,
        funnel_store_path=funnel_store,
    )
    fun = spark.read.parquet(funnel_store)
    assert set(r["batch_id"] for r in fun.select("batch_id").collect()) == {
        0, 1,
    }
    kept_rows = spark.read.parquet(kept)
    for b in (0, 1):
        rows = sorted(
            ((r["seq"], r["stage"], r["docs"])
             for r in fun.filter(F.col("batch_id") == b).collect())
        )
        stages = [s for _, s, _ in rows]
        assert stages == [
            "input", "scrub", "exact_filter", "neardup_survivors",
            "min_words",
        ]
        terminal = rows[-1][2]
        assert terminal == kept_rows.filter(
            F.col("batch_id") == b
        ).count()
    by1 = {r["stage"]: r["docs"]
           for r in fun.filter(F.col("batch_id") == 1).collect()}
    assert by1["input"] == 2 and by1["scrub"] == 2
    assert by1["exact_filter"] == 1          # doc 3 dropped vs the store

    # the monitoring consumer: per-(batch, stage) survival fractions
    from ffi_export_etl_spark.streaming.curate import funnel_drop_rates

    rates = {
        (r["batch_id"], r["stage"]): r["survival"]
        for r in funnel_drop_rates(spark, funnel_store).collect()
    }
    assert rates[(0, "input")] == 1.0
    assert rates[(1, "exact_filter")] == 0.5     # the dup wave's signal
    assert rates[(0, "exact_filter")] == 1.0


def test_cli_funnel_report(spark, tmp_path, capsys):
    """funnel-report over a hand-built store: survival series + the
    --baseline drift summary (a later exact-dup-heavy batch shows up as
    a negative exact_filter delta)."""
    import os

    from ffi_export_etl_spark.__main__ import main

    store = str(tmp_path / "fstore")
    rows = {
        0: [(0, "input", 10, 1000), (1, "exact_filter", 10, 1000)],
        1: [(0, "input", 10, 1000), (1, "exact_filter", 9, 900)],
        2: [(0, "input", 10, 1000), (1, "exact_filter", 4, 400)],
    }
    for b, rs in rows.items():
        spark.createDataFrame(
            rs, "seq: int, stage: string, docs: long, chars: long"
        ).coalesce(1).write.parquet(os.path.join(store, f"batch_id={b}"))
    rc = main(["funnel-report", "--store", store, "--baseline", "2"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["batches"]) == 6
    drift = {d["stage"]: d for d in rep["drift"]}
    assert drift["input"]["delta"] == 0.0
    assert drift["exact_filter"]["baseline"] == 0.95
    assert drift["exact_filter"]["recent"] == 0.4
    assert drift["exact_filter"]["delta"] == -0.55


def test_cli_funnel_flag(spark, docs, tmp_path, capsys):
    from ffi_export_etl_spark.__main__ import main

    inp = str(tmp_path / "docs_in")
    docs.write.parquet(inp)
    rc = main([
        "curate", "--input", inp, "--output", str(tmp_path / "shards"),
        "--min-words", "20", "--funnel",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "funnel" in report
    stages = [r["stage"] for r in report["funnel"]]
    assert stages[0] == "input" and stages[-1] == "packed_output"
    assert report["funnel"][-1]["docs"] == report["docs_out"]
