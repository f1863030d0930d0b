"""End-to-end batch driver test: two export files -> warehouse parquet,
idempotent reruns via the ledger, MERGE semantics on replayed data."""

from __future__ import annotations

import os

import pytest

from ffi_export_etl_spark.plans.batch_driver import process_exports
from tests.ffi_fixture import build_export_xml, write_export_xml
from tests.test_concurrent_packs import _persisted_noncheckpoint_ids


def _second_export(path: str) -> str:
    """Second file: same plots (dup keys -> merged away) plus one new
    event on the existing plot."""
    xml = build_export_xml().replace(
        "<SampleEvent_GUID>se-0004</SampleEvent_GUID>",
        "<SampleEvent_GUID>se-0005</SampleEvent_GUID>",
    ).replace(
        "<SampleEvent_Date>2024-06-01T09:30:00</SampleEvent_Date>",
        "<SampleEvent_Date>2025-07-01T09:30:00</SampleEvent_Date>",
    )
    with open(path, "w") as f:
        f.write(xml)
    return path


def test_process_exports_end_to_end(spark, tmp_path):
    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    _second_export(str(exports / "export2.xml"))
    warehouse = str(tmp_path / "warehouse")

    results = process_exports(spark, str(exports / "*.xml"), warehouse)
    assert len(results) == 2

    events = spark.read.parquet(os.path.join(warehouse, "SampleEvent"))
    ids = sorted(r["EventID"] for r in events.select("EventID").collect())
    # file1: 2 events; file2 adds one new (2025) event, replays the 2023 one
    assert ids == [
        "NORTHPLOT120230515",
        "NORTHPLOT120240601",
        "NORTHPLOT120250701",
    ]
    plots = spark.read.parquet(os.path.join(warehouse, "MacroPlot"))
    assert plots.count() == 1  # same PlotID merged across files

    # rerun: ledger skips both files, warehouse unchanged
    again = process_exports(spark, str(exports / "*.xml"), warehouse)
    assert again == {}
    assert (
        spark.read.parquet(os.path.join(warehouse, "SampleEvent")).count() == 3
    )

    # audit log recorded inserts
    audit = spark.read.parquet(os.path.join(warehouse, "UpdateLog"))
    assert audit.filter("Table = 'SampleEvent'").count() >= 2


def test_corrupted_export_isolated(spark, tmp_path):
    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "good.xml"))
    (exports / "bad.xml").write_text("<FFIData><MacroPlot>truncated")
    warehouse = str(tmp_path / "warehouse")

    results = process_exports(spark, str(exports / "*.xml"), warehouse)
    # the bad file records an empty result, the good one loads fully
    assert results[str(exports / "bad.xml")] == {}
    assert results[str(exports / "good.xml")].get("SampleEvent", 0) > 0
    # the bad file stays pending (retried once fixed), the good one not
    results2 = process_exports(spark, str(exports / "*.xml"), warehouse)
    assert list(results2) == [str(exports / "bad.xml")]


def test_batched_mode_matches_sequential(spark, tmp_path):
    """process_exports_batched must land the exact same warehouse rows as
    the sequential per-file loop (earliest file wins duplicate keys),
    with ONE upsert per table instead of files x tables."""
    import os

    from ffi_export_etl_spark.plans.batch_driver import process_exports_batched

    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    _second_export(str(exports / "export2.xml"))

    wh_seq = str(tmp_path / "wh_seq")
    wh_bat = str(tmp_path / "wh_bat")
    process_exports(spark, str(exports / "*.xml"), wh_seq)
    loaded = process_exports_batched(spark, str(exports / "*.xml"), wh_bat)
    assert loaded.get("SampleEvent", 0) > 0

    for table in ("SampleEvent", "MacroPlot", "ProjectVisit"):
        a = spark.read.parquet(os.path.join(wh_seq, table))
        b = spark.read.parquet(os.path.join(wh_bat, table))
        rows_a = sorted(map(str, a.collect()))
        rows_b = sorted(map(str, b.select(*a.columns).collect()))
        assert rows_a == rows_b, table

    # rerun is a ledger no-op
    assert process_exports_batched(spark, str(exports / "*.xml"), wh_bat) == {}


@pytest.mark.parametrize(
    "loader",
    ["process_exports", "process_exports_batched", "process_exports_glob"],
)
def test_loader_releases_only_its_own_caches(spark, tmp_path, loader):
    """A loader embedded in a long-lived session leaves the host's state
    alone: an unrelated persisted frame stays cached, none of the
    loader's own persisted frames outlive the call, and the session's
    temp views are the host's — one named like a loader table included."""
    from ffi_export_etl_spark.plans import batch_driver

    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    _second_export(str(exports / "export2.xml"))
    host = spark.range(50).selectExpr("id * 2 AS v").persist()
    spark.range(3).createOrReplaceTempView("MacroPlot")
    try:
        assert host.count() == 50
        before = _persisted_noncheckpoint_ids(spark)
        views = sorted(t.name for t in spark.catalog.listTables())
        getattr(batch_driver, loader)(
            spark, str(exports / "*.xml"), str(tmp_path / "wh")
        )
        assert host.storageLevel.useMemory, "host cache was evicted"
        assert _persisted_noncheckpoint_ids(spark) - before == set()
        assert spark.table("MacroPlot").columns == ["id"]
        assert sorted(t.name for t in spark.catalog.listTables()) == views
    finally:
        host.unpersist()
        spark.catalog.dropTempView("MacroPlot")


@pytest.mark.parametrize(
    "loader",
    ["process_exports", "process_exports_batched", "process_exports_glob"],
)
def test_loader_releases_caches_of_a_failed_pipeline(
    spark, tmp_path, monkeypatch, loader
):
    """A pipeline that fails after discovery has filled its caches:
    the loader still releases every one of them."""
    from ffi_export_etl_spark.plans import batch_driver

    def fail(self):
        raise RuntimeError("transform failed")

    monkeypatch.setattr(batch_driver.FFIPipeline, "_attr_to_many", fail)
    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    before = _persisted_noncheckpoint_ids(spark)
    try:
        getattr(batch_driver, loader)(
            spark, str(exports / "*.xml"), str(tmp_path / "wh")
        )
    except RuntimeError:
        pass  # glob mode isolates per batch: the failure propagates
    assert _persisted_noncheckpoint_ids(spark) - before == set()


@pytest.mark.parametrize(
    "loader",
    ["process_exports", "process_exports_batched", "process_exports_glob"],
)
def test_batched_mode_with_fieldmaps(spark, tmp_path, loader):
    """Every mode applies FieldMap projection BEFORE key derivation
    (keys resolve against renamed columns; batched mode threads its
    file-seq bookkeeping through the whitelist), and a target that two
    source tables alias sums both loads in its count and its UpdateLog
    records."""
    from ffi_export_etl_spark.plans import batch_driver
    from ffi_export_etl_spark.plans.fieldmap import LoadMaps

    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    fine_cols = ["EventID", "AttributeData_DataRow_GUID", "Hits"]
    maps = LoadMaps(
        table_map={
            "SampleEvent": "EventFact",
            "SurfaceFuels_Fine_Attribute": "Fine",
            "SurfaceFuels_Fine_Metric_Attribute": "Fine",
        },
        field_maps={
            "EventFact": [("EventID", "EventID"), ("PlotID", "PlotID")],
            "Fine": [(c, c) for c in fine_cols],
        },
    )
    wh = str(tmp_path / "wh")
    loaded = getattr(batch_driver, loader)(
        spark, str(exports / "*.xml"), wh, maps=maps
    )
    if loader == "process_exports":
        (loaded,) = loaded.values()  # {file: {table: rows}}
    assert loaded.get("EventFact", 0) == 2
    back = spark.read.parquet(os.path.join(wh, "EventFact"))
    assert sorted(back.columns) == ["EventID", "PlotID"]

    # one English and one Metric row, chained into one target
    assert loaded["Fine"] == 2
    fine = spark.read.parquet(os.path.join(wh, "Fine"))
    assert sorted(fine.columns) == sorted(fine_cols)
    assert fine.count() == 2
    audit = spark.read.parquet(os.path.join(wh, "UpdateLog"))
    changes = [r["Changes"] for r in audit.filter("Table = 'Fine'").collect()]
    assert sum(changes) == 2


def test_glob_mode_single_pipeline(spark, tmp_path):
    """Whole-glob mode: one parse + one pipeline for all pending files;
    same SampleEvent keys as sequential; rerun is a ledger no-op."""
    import os

    from ffi_export_etl_spark.plans.batch_driver import process_exports_glob

    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    _second_export(str(exports / "export2.xml"))
    wh = str(tmp_path / "wh_glob")
    loaded = process_exports_glob(spark, str(exports / "*.xml"), wh)
    assert loaded.get("SampleEvent", 0) == 3  # 2 events + file2's new one
    ev = spark.read.parquet(os.path.join(wh, "SampleEvent"))
    ids = sorted(r["EventID"] for r in ev.select("EventID").collect())
    assert ids == [
        "NORTHPLOT120230515",
        "NORTHPLOT120240601",
        "NORTHPLOT120250701",
    ]
    assert process_exports_glob(spark, str(exports / "*.xml"), wh) == {}


def test_glob_mode_file_scoped_surrogate_ids(spark, tmp_path):
    """Reference exports assign surrogate integer ids (MethodAtt_ID,
    SampleRow_ID, ...) PER FILE, so two files reuse the same numbers for
    unrelated rows. Glob mode (union parse) must file-scope them or every
    id equi-join fans out across files — with two disjoint-key files the
    Trees attribute table would get 12 rows instead of 6. Pin exact
    per-table equality between the sequential loop and glob mode."""
    from tests.ffi_fixture import write_export_xml as wx

    exports = tmp_path / "exports"
    exports.mkdir()
    for i in range(2):
        wx(str(exports / f"e{i}.xml"), uniq=f"f{i}")

    from ffi_export_etl_spark.plans.batch_driver import process_exports_glob

    per_file = process_exports(
        spark, str(exports / "*.xml"), str(tmp_path / "wh_seq")
    )
    totals: dict[str, int] = {}
    for tabs in per_file.values():
        for t, n in tabs.items():
            totals[t] = totals.get(t, 0) + n
    glob_loaded = process_exports_glob(
        spark, str(exports / "*.xml"), str(tmp_path / "wh_glob")
    )
    assert glob_loaded == totals
    assert glob_loaded["Trees_Individuals_Attribute"] == 6


def test_upsert_concurrently_chains_aliased_targets(spark, tmp_path):
    """_upsert_concurrently (r10): items sharing a target name (a
    fieldmap can alias two source tables to one warehouse table) CHAIN
    inside that target's worker — parquet_upsert is single-writer per
    target dir, so they must never run concurrently — with summed
    counts and sequential MERGE semantics (the second item's duplicate
    keys anti-join away against what the first just wrote). Distinct
    targets still load, and a target whose plan fails at execution is
    isolated into `failed` without touching the others."""
    from ffi_export_etl_spark.plans.batch_driver import _upsert_concurrently

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    df2 = spark.createDataFrame([(2, "DUP"), (3, "c")], "k int, v string")
    df3 = spark.createDataFrame([(9, "z")], "k int, v string")
    from pyspark.sql import functions as F

    broken = spark.createDataFrame([(1,)], "k int").select(
        "k", F.expr("CAST(raise_error('boom') AS STRING)").alias("v")
    )
    loaded, failed = _upsert_concurrently(
        spark,
        [
            ("T", df1, ("k",)),
            ("T", df2, ("k",)),
            ("U", df3, ("k",)),
            ("Bad", broken, ("k",)),
        ],
        wh,
    )
    # chained alias: df1's two rows + df2's k=3 (k=2 merged away) = 3
    assert loaded == {"T": 3, "U": 1}
    assert failed == ["Bad"]
    back = {
        r["k"]: r["v"]
        for r in spark.read.parquet(os.path.join(wh, "T")).collect()
    }
    assert back == {1: "a", 2: "b", 3: "c"}  # first writer won on k=2
    assert not os.path.isdir(os.path.join(wh, "Bad"))


def test_batched_partial_staging_isolated(spark, tmp_path, monkeypatch):
    """r11 staging layout: a file that fails HALFWAY through its staging
    writes leaves `<table>/_file_seq=<seq>` dirs that the final scan
    partition-prunes away — its rows must never load, and the file must
    stay pending for the next run (the pre-r11 shared-append layout let
    such partial rows load under a colliding seq)."""
    import ffi_export_etl_spark.plans.batch_driver as bd
    from pyspark.sql import functions as F

    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "export1.xml"))
    _second_export(str(exports / "export2.xml"))
    warehouse = str(tmp_path / "warehouse")

    real_pipeline = bd.FFIPipeline
    calls = {"n": 0}

    class PoisonedSecondFile(real_pipeline):
        """File 2 stages its real tables PLUS one whose write throws —
        partial staging: good dirs exist, the file still fails."""

        def __init__(self, *a, **kw):
            calls["n"] += 1
            self._poison = calls["n"] == 2
            super().__init__(*a, **kw)

        def run(self):
            out = super().run()
            if self._poison:
                self.tables["PoisonTable"] = spark.createDataFrame(
                    [(1,)], "k int"
                ).select(
                    "k",
                    F.expr("CAST(raise_error('stage-boom') AS STRING)")
                    .alias("v"),
                )
            return out

    monkeypatch.setattr(bd, "FFIPipeline", PoisonedSecondFile)
    loaded = bd.process_exports_batched(
        spark, str(exports / "*.xml"), warehouse
    )
    # only file 1 landed: its 2 events, not file 2's 2025 replay
    ev = spark.read.parquet(os.path.join(warehouse, "SampleEvent"))
    ids = sorted(r["EventID"] for r in ev.select("EventID").collect())
    assert ids == ["NORTHPLOT120230515", "NORTHPLOT120240601"]
    assert loaded.get("SampleEvent", 0) == 2

    # file 2 stayed pending; an unpoisoned rerun loads exactly its delta
    monkeypatch.setattr(bd, "FFIPipeline", real_pipeline)
    again = bd.process_exports_batched(
        spark, str(exports / "*.xml"), warehouse
    )
    assert again.get("SampleEvent", 0) == 1
    ev2 = spark.read.parquet(os.path.join(warehouse, "SampleEvent"))
    assert ev2.count() == 3


def test_batched_wave_discovery_is_per_file(spark, tmp_path):
    """r12: batched mode collects discovery (method/unit/field sets,
    admin, version) at WAVE level — it must still be per-file: a method
    renamed in file 2 only must produce file 2's table under the new
    name and file 1's under the old, with the whole warehouse equal to
    the sequential loop's, table for table."""
    from tests.ffi_fixture import build_export_xml, uniquify_export_xml

    exports = tmp_path / "exports"
    exports.mkdir()
    write_export_xml(str(exports / "e0.xml"), uniq="f0")
    x2 = uniquify_export_xml(build_export_xml(), "f1").replace(
        "Trees - Individuals", "Trees - Xtra"
    )
    (exports / "e1.xml").write_text(x2)

    wh_seq = str(tmp_path / "wh_seq")
    wh_bat = str(tmp_path / "wh_bat")
    process_exports(spark, str(exports / "*.xml"), wh_seq)
    from ffi_export_etl_spark.plans.batch_driver import (
        process_exports_batched,
    )

    process_exports_batched(spark, str(exports / "*.xml"), wh_bat)

    def _tables(wh):
        return sorted(
            d for d in os.listdir(wh)
            if os.path.isdir(os.path.join(wh, d))
            and not d.startswith("_")
        )

    assert _tables(wh_seq) == _tables(wh_bat)
    assert "Trees_Xtra_Attribute" in _tables(wh_seq)
    assert "Trees_Individuals_Attribute" in _tables(wh_seq)
    for table in _tables(wh_seq):
        if table == "UpdateLog":  # timestamps differ by construction
            continue
        # mergeSchema on BOTH sides: with heterogeneous files the two
        # modes write per-append column subsets in different groupings
        # (sequential appends per file, batched once per table), and a
        # plain read infers from an arbitrary footer — the union schema
        # is the well-defined comparison basis
        a = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(wh_seq, table)
        )
        b = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(wh_bat, table)
        )
        # generated GUIDs (uuid() per run, quirk Q3) are random by
        # design — equal columns, not equal values
        cols = sorted(
            c for c in a.columns if c != "SampleData_Original_GUID"
        )
        assert sorted(a.columns) == sorted(b.columns), table
        rows_a = sorted(map(str, a.select(*cols).collect()))
        rows_b = sorted(map(str, b.select(*cols).collect()))
        assert rows_a == rows_b, table
