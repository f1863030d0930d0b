"""Tracer self-test at tiny sizes: spans nest, self time fits inside the
parent, and two traced runs of the same load repeat their counts."""

import os

import pytest

import gen
import layertrace


def _jobs(spark):
    """Jobs so far, from the session's in-progress event log (the
    listener bus is drained first; every job end flushes the log)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    d = spark.etlbench_event_dir
    (log,) = [os.path.join(d, f) for f in os.listdir(d)]
    return layertrace.read_event_log(log)


@pytest.fixture(scope="module")
def two_runs(spark, tmp_path_factory):
    from ffi_export_etl_spark.plans import batch_driver

    work = tmp_path_factory.mktemp("traced")
    gen.write_exports(str(work / "in"), [(0, 0, 0), (1, 0, 0)], replicas=1, seed=2)
    tracer = layertrace.Tracer()
    restore = layertrace.install(tracer)
    runs = []
    try:
        for i in range(2):
            tracer.spans.clear()
            tracer.enabled = True
            batch_driver.process_exports_batched(
                spark, str(work / "in" / "*.xml"), str(work / f"wh{i}")
            )
            tracer.enabled = False
            runs.append(list(tracer.spans))
    finally:
        restore()
    jobs = _jobs(spark)
    return [(spans, layertrace.reduce_layers(spans, jobs)) for spans in runs]


def test_spans_nest_and_self_time_fits(two_runs):
    for spans, layers in two_runs:
        roots = [s for s in spans if s.parent is None]
        assert [r.layer for r in roots] == ["plans.batch_driver"]
        for s in spans:
            if s.parent is not None:
                assert s.parent.t0 <= s.t0 <= s.t1 <= s.parent.t1
        # children that ran one after another on one thread never add up
        # to more than their parent's wall
        by_parent: dict = {}
        for s in spans:
            if s.parent is not None:
                key = (s.parent.id, s.thread)
                by_parent[key] = by_parent.get(key, 0.0) + (s.t1 - s.t0)
        walls = {s.id: s.t1 - s.t0 for s in spans}
        for (pid, _thread), total in by_parent.items():
            assert total <= walls[pid] + 1e-6
        for row in layers.values():
            assert row["self_s"] <= row["wall_s"] + 1e-6


def test_counts_repeat_across_runs(two_runs):
    (_, a), (_, b) = two_runs
    for layer in layertrace.LAYERS:
        for k in ("jobs", "calls", "staging_writes", "empty_appends"):
            if k in a[layer]:
                assert a[layer][k] == b[layer][k], (layer, k)
    assert a["plans.batch_driver"]["staging_writes"] > 0
    assert a["sinks.files"]["rows_inserted"] == sum(gen.expected_rows(1, 2).values())
    spread = {
        layer: (a[layer]["py4j_calls"], b[layer]["py4j_calls"])
        for layer in layertrace.LAYERS
        if "py4j_calls" in a[layer] and a[layer]["py4j_calls"] != b[layer]["py4j_calls"]
    }
    print("py4j_calls that differ between the runs:", spread or "none")


def test_jobs_carry_span_groups(two_runs, spark):
    ids = {s.id for spans, _ in two_runs for s in spans}
    jobs = _jobs(spark)
    mine = [j for j in jobs if j.group in ids]
    assert mine
    loose = [j for j in jobs if j.group is not None and j.group.startswith("etlbench-")
             and j.group not in ids]
    assert not loose


def test_spans_keep_their_parent_across_run_parallel(spark, tmp_path):
    """Per-file mode upserts on run_parallel's worker threads: their spans
    must nest under the fan-out, and the fan-out's self time excludes
    them."""
    from ffi_export_etl_spark.plans import batch_driver

    gen.write_exports(str(tmp_path / "in"), [(5, 0, 0)], replicas=1, seed=2)
    tracer = layertrace.Tracer()
    restore = layertrace.install(tracer)
    try:
        tracer.enabled = True
        batch_driver.process_exports(spark, str(tmp_path / "in" / "*.xml"), str(tmp_path / "wh"))
    finally:
        tracer.enabled = False
        restore()
    upserts = [s for s in tracer.spans if s.fn == "parquet_upsert"]
    assert upserts
    for s in upserts:
        assert s.parent.layer == "parallel"
        assert s.thread != s.parent.thread
    layers = layertrace.reduce_layers(tracer.spans, _jobs(spark))
    assert layers["parallel"]["self_s"] < layers["parallel"]["wall_s"]
    assert layers["sinks.files"]["jobs"] > 0
