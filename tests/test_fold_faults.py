"""Fault matrix for the folds of persisted state: the generation fold of
the curation roots (streaming/events.compact_generations, under both
hold-back policies) and the warehouse's rename swap
(sinks/files.compact_warehouse, for a flat table and for a
hive-partitioned one in the ANN ``codes`` layout).

Each case stops a fold at one commit point — the filesystem call the
fold makes there (``os.rename``, ``shutil.rmtree``) raises, or a
write's ``_SUCCESS`` marker is removed — and then checks that:

- a read between the crash and the re-run returns exactly the rows
  from before the fold or from after it;
- the re-run leaves the same rows and dirs as an uninterrupted fold,
  and a further fold changes nothing;
- for the generation roots, the row count is the same before the fold,
  after it, and from every reader.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.errors import AnalysisException

from ffi_export_etl_spark.sinks.files import compact_warehouse
from ffi_export_etl_spark.streaming.dedup import (
    _read_store,
    compact_signature_store,
    store_row_count,
)
from ffi_export_etl_spark.streaming.events import (
    compact_generations,
    read_generations,
)


class _Crash(Exception):
    """The fold's process dies at the injected call."""


class PartialRead(AssertionError):
    """A read between the crash and the re-run saw rows that are
    neither the pre-fold nor the post-fold contents."""


def _crash_at(monkeypatch, module, name, nth, under):
    """Make ``module.name`` raise on its ``nth`` call for a path under
    ``under``; calls for other paths pass through."""
    real = getattr(module, name)
    calls = []

    def fake(path, *args, **kwargs):
        if str(path).startswith(under):
            calls.append(path)
            if len(calls) == nth:
                raise _Crash(f"{name} #{nth}: {path}")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(module, name, fake)


def _unsuccess(d):
    os.remove(os.path.join(d, "_SUCCESS"))


def _rows(df):
    return sorted(map(str, df.select(*sorted(df.columns)).collect()))


# ---- generation roots ----------------------------------------------

POLICIES = {
    # the kept corpus and the quarantine fold every committed dir
    "fold_all": lambda spark, root: compact_generations(spark, root),
    # the signature stores hold the newest committed dir back
    "hold_back": lambda spark, root: compact_signature_store(
        spark, root, 1
    ),
}
N_BATCHES, BATCH_ROWS = 4, 10


@pytest.fixture(scope="module")
def generation_root(spark, tmp_path_factory):
    """A never-folded root of committed ``batch_id=0..3`` dirs."""
    root = str(tmp_path_factory.mktemp("gen_base") / "store")
    for b in range(N_BATCHES):
        spark.createDataFrame(
            [(b * 100 + i, f"k{b}_{i}") for i in range(BATCH_ROWS)],
            "id long, key string",
        ).coalesce(1).write.parquet(os.path.join(root, f"batch_id={b}"))
    return root


def _gen_state(spark, root):
    """Rows through every reader (asserted to agree) plus the dirs."""
    df = read_generations(spark, root)
    rows = [] if df is None else _rows(df)
    like = spark.createDataFrame([], "id long, key string")
    assert _rows(_read_store(spark, root, like)) == rows
    assert store_row_count(spark, root) == len(rows)
    return rows, sorted(os.listdir(root))


def _generation_case(spark, monkeypatch, tmp_path, base, policy, fault):
    fold = POLICIES[policy]
    ref = str(tmp_path / "uninterrupted")
    shutil.copytree(base, ref)
    fold(spark, ref)
    want = _gen_state(spark, ref)

    root = str(tmp_path / "store")
    shutil.copytree(base, root)
    last = os.path.join(root, f"batch_id={N_BATCHES - 1}")
    if fault == "batch_uncommitted":
        # the stream died writing its last batch: never live, so the
        # fold leaves it alone and every reader skips it
        _unsuccess(last)
    before, _ = _gen_state(spark, root)
    if fault == "batch_uncommitted":
        assert len(before) == (N_BATCHES - 1) * BATCH_ROWS
        fold(spark, root)
    else:
        # rmtree #1 is the first input removal, after the generation
        # has committed
        nth = 2 if fault == "inputs_partly_removed" else 1
        with monkeypatch.context() as m:
            _crash_at(m, shutil, "rmtree", nth, root)
            with pytest.raises(_Crash):
                fold(spark, root)
        if fault == "generation_uncommitted":
            # the generation write died after landing part of its rows
            gen = next(
                os.path.join(root, n)
                for n in os.listdir(root)
                if n.startswith("compacted=")
            )
            spark.read.parquet(os.path.join(base, "batch_id=0")).write.mode(
                "overwrite"
            ).parquet(gen)
            _unsuccess(gen)

    between, _ = _gen_state(spark, root)
    assert between == before  # a fold never changes what readers see

    # re-run: the stream replays its uncommitted batch, the fold reruns
    if fault == "batch_uncommitted":
        shutil.rmtree(last)
        shutil.copytree(os.path.join(base, os.path.basename(last)), last)
    fold(spark, root)
    assert _gen_state(spark, root) == want
    fold(spark, root)
    assert _gen_state(spark, root) == want


# ---- warehouse tables ----------------------------------------------


@pytest.fixture(scope="module")
def warehouses(spark, tmp_path_factory):
    """{layout: warehouse dir}: a flat table ``T`` and a
    hive-partitioned ``codes`` table, each grown by small appends."""
    out = {}
    for layout in ("flat", "partitioned"):
        wh = str(tmp_path_factory.mktemp(f"wh_{layout}"))
        for b in range(3):
            df = spark.createDataFrame(
                [(b * 10 + i, f"v{b}_{i}", i % 2) for i in range(6)],
                "k int, v string, cell int",
            ).repartition(2)
            if layout == "flat":
                df.write.mode("append").parquet(os.path.join(wh, "T"))
            else:
                df.write.mode("append").partitionBy("cell").parquet(
                    os.path.join(wh, "codes")
                )
        out[layout] = wh
    return out


def _wh_rows(spark, table):
    return _rows(spark.read.option("mergeSchema", "true").parquet(table))


def _wh_dirs(wh):
    """Every dir (staging siblings included) with its part-file count
    and its other visible entries; part-file names are run-specific."""
    out = []
    for d, _, files in sorted(os.walk(wh)):
        names = [n for n in files if not n.startswith(".")]
        out.append((
            os.path.relpath(d, wh),
            sum(n.endswith(".parquet") for n in names),
            sorted(n for n in names if not n.endswith(".parquet")),
        ))
    return out


def _warehouse_case(spark, monkeypatch, tmp_path, base, layout, fault):
    table_name = "T" if layout == "flat" else "codes"

    def state(wh):
        return _wh_rows(spark, os.path.join(wh, table_name)), _wh_dirs(wh)

    ref = str(tmp_path / "uninterrupted")
    shutil.copytree(base, ref)
    compact_warehouse(spark, ref, min_files=2)
    want = state(ref)

    wh = str(tmp_path / "wh")
    shutil.copytree(base, wh)
    table = os.path.join(wh, table_name)
    before = _wh_rows(spark, table)
    # os.rename #1 moves the fold target to old, #2 promotes tmp; the
    # only rmtree of a clean run removes old
    name, nth = {
        "tmp_uncommitted": ("rename", 1),
        "tmp_committed": ("rename", 1),
        "renamed_to_old": ("rename", 2),
        "renamed_to_old_tmp_uncommitted": ("rename", 2),
        "old_not_removed": ("rmtree", 1),
    }[fault]
    with monkeypatch.context() as m:
        _crash_at(m, os if name == "rename" else shutil, name, nth, wh)
        with pytest.raises(_Crash):
            compact_warehouse(spark, wh, min_files=2)
    if fault.endswith("tmp_uncommitted"):
        # a torn write: no marker, and a part file that is not parquet
        tmp = next(
            os.path.join(d, s)
            for d, subdirs, _ in os.walk(wh)
            for s in subdirs
            if s.startswith(".compact_tmp.")
        )
        _unsuccess(tmp)
        with open(os.path.join(tmp, "part-torn.parquet"), "wb") as f:
            f.write(b"not parquet")

    try:
        between = _wh_rows(spark, table)
    except AnalysisException:
        # the flat table's dir is absent between the two renames: the
        # read fails loudly rather than returning wrong rows
        between = None
        assert layout == "flat" and fault.startswith("renamed_to_old")

    rerun = compact_warehouse(spark, wh, min_files=2)
    assert state(wh) == want
    # a committed fold is finished by the repair, never folded again (a
    # partitioned table's report also covers the partitions the crash
    # left unfolded, so only the flat report shows it)
    committed = fault in ("renamed_to_old", "old_not_removed")
    assert rerun[table_name]["action"] == (
        "skipped" if committed and layout == "flat" else "compacted"
    )
    compact_warehouse(spark, wh, min_files=2)
    assert state(wh) == want
    if between is not None and between not in (before, want[0]):
        raise PartialRead(
            f"{len(between)} rows read mid-fold, {len(before)} before"
        )


# ---- the matrix ----------------------------------------------------

_PARTITION_GAP = pytest.mark.xfail(
    raises=PartialRead,
    strict=True,
    reason="a partition dir is absent between the swap's two renames, "
    "so a whole-table read silently misses its rows until the next "
    "compact_warehouse repairs it",
)
CASES = [
    pytest.param("generations", policy, fault, id=f"{policy}-{fault}")
    for policy in POLICIES
    for fault in (
        "batch_uncommitted",
        "generation_uncommitted",
        "inputs_kept",
        "inputs_partly_removed",
    )
] + [
    pytest.param(
        "warehouse", layout, fault, id=f"{layout}-{fault}",
        marks=(
            [_PARTITION_GAP]
            if layout == "partitioned" and fault.startswith("renamed_to_old")
            else []
        ),
    )
    for layout in ("flat", "partitioned")
    for fault in (
        "tmp_uncommitted",
        "tmp_committed",
        "renamed_to_old",
        "renamed_to_old_tmp_uncommitted",
        "old_not_removed",
    )
]


@pytest.mark.parametrize("store,variant,fault", CASES)
def test_fold_crash_matrix(
    spark, monkeypatch, tmp_path, generation_root, warehouses,
    store, variant, fault,
):
    if store == "generations":
        _generation_case(
            spark, monkeypatch, tmp_path, generation_root, variant, fault
        )
    else:
        _warehouse_case(
            spark, monkeypatch, tmp_path, warehouses[variant], variant,
            fault,
        )
