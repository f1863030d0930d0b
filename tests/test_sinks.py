"""Sink-layer tests: MERGE SQL generation, FK topological ordering,
count-delta audit, parquet upsert, processed-file ledger."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ffi_export_etl_spark.sinks.files import ProcessedLedger, parquet_upsert
from ffi_export_etl_spark.sinks.jdbc_merge import (
    MergeLoader,
    TableMeta,
    merge_sql,
    topological_load_order,
)


def _metas():
    return {
        "AdminUnit": TableMeta("AdminUnit", ["AdminUnit"]),
        "Plot": TableMeta(
            "Plot", ["PlotID"],
            {"AdminUnit": [("AdminUnit", "AdminUnit")]},
        ),
        "Event": TableMeta(
            "Event", ["EventID"], {"PlotID": [("Plot", "PlotID")]}
        ),
        "TreesIndv": TableMeta(
            "TreesIndv", ["EventID", "TagNo", "StemNum"],
            {"EventID": [("Event", "EventID")]},
        ),
    }


def test_topological_order_respects_fks():
    order = topological_load_order(
        ["TreesIndv", "Event", "Plot", "AdminUnit"], _metas()
    )
    assert order.index("AdminUnit") < order.index("Plot")
    assert order.index("Plot") < order.index("Event")
    assert order.index("Event") < order.index("TreesIndv")


def test_topological_order_detects_cycles():
    metas = {
        "A": TableMeta("A", ["id"], {"b": [("B", "id")]}),
        "B": TableMeta("B", ["id"], {"a": [("A", "id")]}),
    }
    with pytest.raises(ValueError, match="cycle"):
        topological_load_order(["A", "B"], metas)


def test_merge_sql_tsql_and_postgres():
    tsql = merge_sql("Plot", "staging_Plot", ["PlotID", "Elev"], ["PlotID"])
    assert "MERGE INTO Plot AS t USING staging_Plot AS s" in tsql
    assert "WHEN NOT MATCHED THEN INSERT (PlotID, Elev)" in tsql
    pg = merge_sql(
        "Plot", "staging_Plot", ["PlotID", "Elev"], ["PlotID"], "postgres"
    )
    assert "ON CONFLICT (PlotID) DO NOTHING" in pg
    with pytest.raises(ValueError):
        merge_sql("Plot", "s", ["a"], [])


def test_merge_loader_orders_audits_and_isolates_failures():
    executed: list[str] = []
    counts = {"AdminUnit": [0, 1], "Plot": [5, 7], "Event": [2, 2]}

    def execute(sql: str) -> None:
        if "Event" in sql and sql.startswith("MERGE"):
            raise RuntimeError("boom")
        executed.append(sql)

    def scalar(sql: str) -> int:
        table = sql.rsplit(" ", 1)[-1]
        return counts[table].pop(0)

    staged: list[str] = []
    loader = MergeLoader(
        _metas(), execute, scalar, lambda name, df: staged.append(name)
    )
    frames = {"Plot": object(), "AdminUnit": object(), "Event": object()}
    cols = {t: ["a", "b"] for t in frames}
    results = loader.load(frames, cols)

    assert [r.table for r in results] == ["AdminUnit", "Plot", "Event"]
    assert loader.insert_failed == ["Event"]
    assert "ROLLBACK;" in executed
    audit = loader.audit_rows("tester", "2026-01-01")
    assert {(a["Table"], a["ChangeType"], a["Changes"]) for a in audit} == {
        ("AdminUnit", "INSERT", 1),
        ("Plot", "INSERT", 2),
    }


def test_parquet_upsert_insert_if_absent(spark, tmp_path):
    target = str(tmp_path / "warehouse" / "plot")
    df1 = spark.createDataFrame(
        [("P1", "a"), ("P2", "b")], ["PlotID", "attr"]
    )
    assert parquet_upsert(spark, df1, target, ["PlotID"]) == 2
    # second batch: one dup key, one new, one internal dup
    df2 = spark.createDataFrame(
        [("P2", "changed"), ("P3", "c"), ("P3", "c2")], ["PlotID", "attr"]
    )
    assert parquet_upsert(spark, df2, target, ["PlotID"]) == 1
    final = spark.read.parquet(target)
    assert final.count() == 3
    vals = {r["PlotID"]: r["attr"] for r in final.collect()}
    assert vals["P2"] == "b"  # WHEN NOT MATCHED: existing row untouched


def test_parquet_upsert_duplicate_stored_keys(spark, tmp_path):
    """The stored keys are read without ``distinct``: a key repeated
    across part files still blocks its replay, and counts once."""
    target = str(tmp_path / "warehouse" / "plot")
    stored = spark.createDataFrame([("P1", "a"), ("P2", "b")], ["PlotID", "attr"])
    stored.write.parquet(target)
    stored.write.mode("append").parquet(target)
    replay = spark.createDataFrame(
        [("P1", "x"), ("P2", "y"), ("P3", "z")], ["PlotID", "attr"]
    )
    assert parquet_upsert(spark, replay, target, ["PlotID"]) == 1
    assert parquet_upsert(spark, replay, target, ["PlotID"]) == 0
    final = spark.read.parquet(target)
    assert sorted(r["PlotID"] for r in final.collect()) == [
        "P1", "P1", "P2", "P2", "P3",
    ]


def test_parquet_upsert_part_files_missing_a_key_column(spark, tmp_path):
    """Part files may carry different column subsets. A stored file that
    lacks a key column reads it as NULL, which matches nothing (as with
    MERGE), instead of failing the read."""
    import glob
    import shutil

    target = tmp_path / "warehouse" / "transect"
    target.mkdir(parents=True)
    parts = [
        spark.createDataFrame([("E1", "a")], ["EventID", "attr"]),
        spark.createDataFrame(
            [("E2", "T2", "b")], ["EventID", "Transect", "attr"]
        ),
    ]
    # name the file without the key first: a schema inferred from one
    # file takes the first in path order
    for i, part in enumerate(parts):
        staged = str(tmp_path / f"staged{i}")
        part.coalesce(1).write.parquet(staged)
        (src,) = glob.glob(os.path.join(staged, "*.parquet"))
        shutil.move(src, str(target / f"part-{i}.parquet"))
    target = str(target)
    batch = spark.createDataFrame(
        [("E1", "T1", "c"), ("E2", "T2", "d")], ["EventID", "Transect", "attr"]
    )
    assert parquet_upsert(spark, batch, target, ["EventID", "Transect"]) == 1
    final = spark.read.option("mergeSchema", "true").parquet(target)
    rows = {(r["EventID"], r["Transect"], r["attr"]) for r in final.collect()}
    assert rows == {("E1", None, "a"), ("E1", "T1", "c"), ("E2", "T2", "b")}


def test_processed_ledger(tmp_path):
    ledger = ProcessedLedger(str(tmp_path / "ledger.jsonl"))
    assert ledger.pending(["f1.xml", "f2.xml"]) == ["f1.xml", "f2.xml"]
    assert ledger.mark("f1.xml") is True
    assert ledger.mark("f2.xml", failed_tables=["Plot"]) is False
    assert ledger.pending(["f1.xml", "f2.xml"]) == ["f2.xml"]


def test_processed_ledger_survives_a_torn_record(tmp_path):
    """A crash inside ``mark`` can leave the last record half-written:
    that file stays pending instead of every later run failing, and the
    next ``mark`` starts its own line."""
    path = tmp_path / "ledger.jsonl"
    ledger = ProcessedLedger(str(path))
    assert ledger.mark("f1.xml") is True
    with open(path, "a") as f:
        f.write('{"file": "f2.xml", "ts')
    files = ["f1.xml", "f2.xml", "f3.xml"]
    assert ledger.pending(files) == ["f2.xml", "f3.xml"]
    assert ledger.mark("f3.xml") is True
    assert ledger.processed() == {"f1.xml", "f3.xml"}
    assert ledger.pending(files) == ["f2.xml"]


def test_csv_dump_debug_sink(spark, tmp_path):
    from ffi_export_etl_spark.sinks.files import csv_dump

    df = spark.createDataFrame([("P1", 1), ("P2", 2)], ["PlotID", "n"])
    csv_dump({"Plots": df}, str(tmp_path / "csv"))
    back = (
        spark.read.option("header", True)
        .csv(str(tmp_path / "csv" / "Plots"))
    )
    assert sorted((r["PlotID"], int(r["n"])) for r in back.collect()) == [
        ("P1", 1),
        ("P2", 2),
    ]


def test_write_training_shards_order_and_manifest(spark, tmp_path):
    """sinks/shards.py: filename-ordered shards reproduce the exact
    deterministic_shuffle stream, every shard respects rows_per_shard,
    and the manifest's per-file counts/key-ranges match the data."""
    from ffi_export_etl_spark.operators.sampling import deterministic_shuffle
    from ffi_export_etl_spark.sinks.shards import write_training_shards

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("payload")
    )
    out = str(tmp_path / "shards")
    manifest = write_training_shards(
        df, out, "doc_id", rows_per_shard=40
    ).collect()

    # shards stream back (filename order) as the exact shuffle order
    import glob as _glob

    files = sorted(_glob.glob(out + "/part-*.parquet"))
    assert len(files) == len(manifest) and len(files) >= 12
    streamed = []
    for f in files:
        part = spark.read.parquet(f).collect()
        assert len(part) <= 40
        streamed.extend(r["doc_id"] for r in part)
    want = [
        r["doc_id"]
        for r in deterministic_shuffle(df, "doc_id").collect()
    ]
    assert streamed == want

    # manifest rows line up with the files
    by_file = {m["file"]: m for m in manifest}
    assert set(by_file) == {os.path.basename(f) for f in files}
    assert sum(m["n_rows"] for m in manifest) == 500
    first = by_file[os.path.basename(files[0])]
    assert first["first_key"] == want[0]
    last = by_file[os.path.basename(files[-1])]
    assert last["last_key"] == want[-1]

    # rewrite is idempotent: same shard contents in the same stream
    # order (filenames carry a fresh job uuid, so compare content)
    manifest2 = write_training_shards(
        df, out, "doc_id", rows_per_shard=40
    ).collect()
    content = lambda ms: [
        (m["n_rows"], m["first_key"], m["last_key"]) for m in ms
    ]
    assert content(manifest2) == content(manifest)


def test_write_training_shards_computed_shuffle_key(spark, tmp_path):
    """shuffle_key (ADVICE r8): a computed Column orders the stream —
    matching deterministic_shuffle of the same expression — WITHOUT
    appearing in the written shard schema, and the manifest still keys
    on the real key_col. The epochs use case: shuffle on (id, epoch) so
    a doc's copies spread, write only the real columns."""
    from ffi_export_etl_spark.operators.sampling import (
        deterministic_shuffle,
    )
    from ffi_export_etl_spark.sinks.shards import write_training_shards

    df = spark.range(200).select(
        (F.col("id") % 100).alias("doc_id"),
        (F.col("id") / F.lit(100)).cast("int").alias("epoch"),
    )
    skey = F.concat_ws(
        "#", F.col("doc_id").cast("string"), F.col("epoch")
    )
    out = str(tmp_path / "shards_skey")
    manifest = write_training_shards(
        df, out, "doc_id", rows_per_shard=32, shuffle_key=skey,
    ).collect()

    import glob as _glob

    files = sorted(_glob.glob(out + "/part-*.parquet"))
    streamed = []
    for f in files:
        part = spark.read.parquet(f)
        # the helper key is NOT materialized in the output
        assert part.columns == ["doc_id", "epoch"]
        streamed.extend(
            (r["doc_id"], r["epoch"]) for r in part.collect()
        )
    want = [
        (r["doc_id"], r["epoch"])
        for r in deterministic_shuffle(df, skey).collect()
    ]
    assert streamed == want
    # the two copies of a doc hash to independent stream positions:
    # across 100 docs at least one pair must be non-adjacent (adjacency
    # everywhere is what the plain id-key shuffle would produce)
    pos = {}
    for i, (d, e) in enumerate(streamed):
        pos.setdefault(d, []).append(i)
    gaps = [abs(p[1] - p[0]) for p in pos.values()]
    assert max(gaps) > 1, gaps[:10]
    # manifest keys on the real column
    assert sum(m["n_rows"] for m in manifest) == 200
    assert all(m["first_key"] is not None for m in manifest)


def test_write_training_shards_orc_format(spark, tmp_path):
    """data_format='orc': same deterministic stream order and manifest
    contract as parquet — the manifest's first/last keys come from ORC
    stripe reads (metadata-cheap path), counts from the file footer."""
    from ffi_export_etl_spark.operators.sampling import deterministic_shuffle
    from ffi_export_etl_spark.sinks.shards import write_training_shards

    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("payload")
    )
    out = str(tmp_path / "orc_shards")
    manifest = write_training_shards(
        df, out, "doc_id", rows_per_shard=50, data_format="orc",
    ).collect()

    import glob as _glob

    files = sorted(_glob.glob(out + "/part-*.orc"))
    assert len(files) == len(manifest) >= 6
    streamed = []
    for f in files:
        part = spark.read.orc(f).collect()
        assert len(part) <= 50
        streamed.extend(r["doc_id"] for r in part)
    want = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id").collect()]
    assert streamed == want

    by_file = {m["file"]: m for m in manifest}
    assert set(by_file) == {os.path.basename(f) for f in files}
    assert sum(m["n_rows"] for m in manifest) == 300
    assert by_file[os.path.basename(files[0])]["first_key"] == want[0]
    assert by_file[os.path.basename(files[-1])]["last_key"] == want[-1]

    # ORC manifest used the metadata path, not the distributed fallback
    # (parquet manifest dir exists; content equals the footer-derived one)
    from ffi_export_etl_spark.sinks.shards import _manifest_from_footers

    meta = _manifest_from_footers(spark, files, "doc_id", "orc")
    assert meta is not None
    assert [
        (m["file"], m["n_rows"], m["first_key"], m["last_key"])
        for m in meta.orderBy("file").collect()
    ] == [
        (m["file"], m["n_rows"], m["first_key"], m["last_key"])
        for m in sorted(manifest, key=lambda m: m["file"])
    ]


def test_write_training_shards_rejects_unknown_format(spark, tmp_path):
    from ffi_export_etl_spark.sinks.shards import write_training_shards

    df = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="data_format"):
        write_training_shards(df, str(tmp_path / "x"), "doc_id",
                              data_format="avro")


def test_shard_checksums_and_verify(spark, tmp_path):
    """checksums=True manifest + verify_training_shards: clean corpus
    verifies ok on every shard; an edited shard and a truncated shard
    are both flagged by exactly their file names."""
    import glob
    import shutil

    from ffi_export_etl_spark.sinks.shards import (
        verify_training_shards,
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "id long, text string"
    )
    out = str(tmp_path / "ck_shards")
    manifest = write_training_shards(
        df, out, "id", rows_per_shard=8, checksums=True
    )
    assert {"row_digest", "file_bytes"} <= set(manifest.columns)
    rep = verify_training_shards(spark, out)
    assert all(r["ok"] for r in rep.collect())

    # corrupt: replace one shard with a DIFFERENT valid parquet file
    shards = sorted(glob.glob(out + "/part-*.parquet"))
    victim, donor = shards[0], shards[1]
    shutil.copyfile(donor, victim)
    # drop Hadoop's local-FS .crc sidecar: it would flag the swap at
    # the filesystem layer before our verifier runs — object stores
    # (the real deployment) have no such sidecar, the manifest check
    # is exactly for them
    import os as _os2
    crc = _os2.path.join(
        _os2.path.dirname(victim), "." + _os2.path.basename(victim) + ".crc"
    )
    if _os2.path.exists(crc):
        _os2.remove(crc)
    rep2 = {r["file"]: r["ok"] for r in verify_training_shards(spark, out).collect()}
    import os as _os
    assert rep2[_os.path.basename(victim)] is False
    assert sum(1 for ok in rep2.values() if not ok) == 1

    # manifest without checksums refuses to verify
    out2 = str(tmp_path / "nock")
    write_training_shards(df, out2, "id", rows_per_shard=8)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="checksums"):
        verify_training_shards(spark, out2)


def test_write_training_shards_jsonl_format(spark, tmp_path):
    """data_format='jsonl': the layout most LLM training loaders
    stream — same deterministic stream order and manifest contract, the
    manifest coming from the distributed-scan path (no footers in
    JSON), and checksum verify self-consistent across the write-time
    and verify-time inference read-backs."""
    import json as _json

    from ffi_export_etl_spark.operators.sampling import deterministic_shuffle
    from ffi_export_etl_spark.sinks.shards import (
        verify_training_shards,
        write_training_shards,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    out = str(tmp_path / "jsonl_shards")
    manifest = write_training_shards(
        df, out, "doc_id", rows_per_shard=40,
        data_format="jsonl", checksums=True,
    ).collect()

    import glob as _glob

    files = sorted(_glob.glob(out + "/part-*.json"))
    assert len(files) == len(manifest) >= 4
    # the shards ARE plain JSON lines a non-Spark loader can eat
    streamed = []
    for f in files:
        with open(f) as fh:
            rows = [_json.loads(line) for line in fh]
        assert len(rows) <= 40
        assert all(set(r) == {"doc_id", "text"} for r in rows)
        streamed.extend(r["doc_id"] for r in rows)
    want = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id").collect()]
    assert streamed == want

    by_file = {m["file"]: m for m in manifest}
    assert set(by_file) == {os.path.basename(f) for f in files}
    assert sum(m["n_rows"] for m in manifest) == 200
    assert by_file[os.path.basename(files[0])]["first_key"] == want[0]
    assert by_file[os.path.basename(files[-1])]["last_key"] == want[-1]

    report = verify_training_shards(spark, out, data_format="jsonl")
    rows = report.collect()
    assert rows and all(r["ok"] for r in rows)
    # corrupt one shard -> that entry (and only that entry) fails
    victim = files[0]
    with open(victim) as fh:
        lines = fh.readlines()
    with open(victim, "w") as fh:
        fh.writelines(lines[:-1])
    # drop Hadoop's local-FS .crc sidecar (see the parquet corruption
    # test: object stores have no sidecar; the manifest check is the
    # integrity layer under test, not ChecksumFileSystem)
    crc = os.path.join(
        os.path.dirname(victim), "." + os.path.basename(victim) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    report2 = {
        r["file"]: r["ok"]
        for r in verify_training_shards(
            spark, out, data_format="jsonl"
        ).collect()
    }
    assert report2[os.path.basename(victim)] is False
    assert sum(1 for ok in report2.values() if not ok) == 1


def test_parquet_upsert_single_action_zero_inserts(spark, tmp_path):
    """r11: the inserted count rides the append as an Observation (one
    action per upsert). The two edges that regression-guard it: an
    all-duplicates batch reports 0 (its empty append is folded later by
    compact_warehouse), and a plan that collapses to zero tasks
    (limit 0) reports 0 via getOrEmpty instead of blocking forever on
    Observation.get."""
    target = str(tmp_path / "warehouse" / "plot")
    df1 = spark.createDataFrame(
        [("P1", "a"), ("P2", "b")], ["PlotID", "attr"]
    )
    assert parquet_upsert(spark, df1, target, ["PlotID"]) == 2
    # all-duplicates replay: nothing inserted, rows unchanged
    assert parquet_upsert(spark, df1, target, ["PlotID"]) == 0
    # zero-task plan: must return 0, not hang
    assert parquet_upsert(spark, df1.limit(0), target, ["PlotID"]) == 0
    final = spark.read.parquet(target)
    assert final.count() == 2
    assert {r["PlotID"] for r in final.collect()} == {"P1", "P2"}
