"""Outside-in layer trace for the benchmark.

Spans are recorded around calls into each layer's public functions; the
wrappers are installed from here, over the names the callers look up
(nothing inside the package changes). A span that runs Spark work sets
the Spark job group to its own id, so every job in Spark's event log
names the span that caused it; :func:`reduce_layers` joins the two into
one row of metrics per layer.

Attribution rules:

- A span's *owner* is the nearest span up its parent chain (itself
  included) that sets a job group. ``parallel.run_parallel`` spans do
  not: jobs and py4j calls made directly by its worker tasks belong to
  the caller that fanned them out (the batched loader's staging writes
  land on ``plans.batch_driver``).
- The worker threads ``run_parallel`` starts inherit the span that
  started them, so nested spans keep their parent across threads.
- ``wall_s`` of a layer is the length of the union of its spans'
  intervals, ``self_s`` the union of those intervals minus the time
  their child spans cover; concurrent spans are counted once.
- ``driver_gap_s`` is self time during which none of the layer's own
  jobs was running.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

# layers with executor I/O extras (the rest report the standard set)
IO_LAYERS = ("sources.xml", "sinks.files", "operators", "sinks.shards")
STANDARD = (
    "wall_s", "self_s", "calls", "py4j_calls", "jobs",
    "driver_gap_s", "exec_run_s", "exec_cpu_s",
)
IO_EXTRAS = (
    "input_bytes", "output_bytes", "shuffle_write_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "gc_s",
)
LAYERS = (
    "session", "sources.xml", "plans.ffi_pipeline", "plans.batch_driver",
    "parallel", "sinks.files", "plans.curation", "operators", "sinks.shards",
)
UNITS = {
    "calls": "count", "py4j_calls": "count", "jobs": "count",
    "input_bytes": "bytes", "output_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "rows_inserted": "count",
    "rows_offered": "count", "inserted_per_offered": "ratio",
    "empty_appends": "count",
}


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric this trace reports, as (name, unit)."""
    names: list[str] = []
    for layer in LAYERS:
        if layer == "parallel":
            names += [f"{layer}.{m}" for m in ("wall_s", "self_s", "calls")]
            continue
        names += [f"{layer}.{m}" for m in STANDARD]
        if layer in IO_LAYERS:
            names += [f"{layer}.{m}" for m in IO_EXTRAS]
        if layer == "sinks.files":
            names += [
                f"sinks.files.{m}" for m in (
                    "rows_inserted", "rows_offered",
                    "inserted_per_offered", "empty_appends",
                )
            ]
    names.append("trace.unattributed_s")
    return [(n, UNITS.get(n.rsplit(".", 1)[1], "s")) for n in names]


@dataclass
class Span:
    id: str
    layer: str
    fn: str
    parent: "Span | None"
    sets_group: bool
    thread: int
    t0: float
    t1: float = 0.0
    py4j: int = 0
    writes: int = 0  # DataFrameWriter.parquet calls this span owns
    extra: dict = field(default_factory=dict)

    @property
    def owner(self) -> "Span | None":
        s = self
        while s is not None and not s.sets_group:
            s = s.parent
        return s


class Tracer:
    """Span recorder. ``enabled`` gates recording; spans are kept in
    memory and reduced after the run."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._tl = threading.local()
        self._lock = threading.Lock()

    # -- current span per thread -------------------------------------------
    def current(self) -> Span | None:
        return getattr(self._tl, "span", None)

    def _set_current(self, span: Span | None) -> None:
        self._tl.span = span

    def _quiet(self) -> bool:
        return getattr(self._tl, "quiet", False)

    def _owner(self) -> Span | None:
        cur = self.current() if self.enabled and not self._quiet() else None
        return cur.owner if cur is not None else None

    def count_py4j(self) -> None:
        owner = self._owner()
        if owner is not None:
            with self._lock:
                owner.py4j += 1

    def count_write(self) -> None:
        owner = self._owner()
        if owner is not None:
            with self._lock:
                owner.writes += 1

    def _set_group(self, span: Span | None) -> None:
        """Point this thread's Spark job group at ``span`` (None clears);
        the py4j calls this makes are the tracer's, not the layer's."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        self._tl.quiet = True
        try:
            if span is None:
                sc._jsc.clearJobGroup()
            else:
                sc.setJobGroup(span.id, f"{span.layer}:{span.fn}")
        finally:
            self._tl.quiet = False

    # -- spans ---------------------------------------------------------------
    def call(self, layer: str, fn_name: str, fn, args, kwargs, sets_group=True):
        if not self.enabled:
            return fn(*args, **kwargs), None
        parent = self.current()
        span = Span(
            id=f"etlbench-{next(self._ids)}", layer=layer, fn=fn_name,
            parent=parent, sets_group=sets_group,
            thread=threading.get_ident(), t0=time.time(),
        )
        self.spans.append(span)
        self._set_current(span)
        if sets_group:
            self._set_group(span)
        try:
            return fn(*args, **kwargs), span
        finally:
            span.t1 = time.time()
            if sets_group:
                self._set_group(parent.owner if parent is not None else None)
            self._set_current(parent)

    def bind(self, task):
        """Run ``task`` in another thread under this thread's span."""
        parent = self.current()

        def run():
            self._set_current(parent)
            return task()

        return run


def _wrap(tracer: Tracer, layer: str, fn_name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        out, _ = tracer.call(layer, fn_name, fn, args, kwargs)
        return out

    return wrapper


def install(tracer: Tracer):
    """Wrap every traced name where its caller looks it up, plus py4j's
    send_command and DataFrameWriter.parquet; returns an undo callable."""
    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.sql.readwriter import DataFrameWriter

    from ffi_export_etl_spark import parallel, session
    from ffi_export_etl_spark.plans import batch_driver, curation, ffi_pipeline
    from ffi_export_etl_spark.sinks import files, shards
    from ffi_export_etl_spark.sources import xml

    undo: list[tuple[object, str, object]] = []

    def patch(owner, name: str, new) -> None:
        undo.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, new)

    def trace(owner, name: str, layer: str) -> None:
        patch(owner, name, _wrap(tracer, layer, name, owner.__dict__[name]))

    for name in ("get_spark", "tune"):
        trace(session, name, "session")
    for name in ("discover_columns", "read_ffi_export", "read_ffi_export_sliced"):
        trace(xml, name, "sources.xml")
    trace(batch_driver, "read_ffi_export", "sources.xml")
    trace(ffi_pipeline.FFIPipeline, "run", "plans.ffi_pipeline")
    for name in ("process_exports", "process_exports_batched", "process_exports_glob"):
        trace(batch_driver, name, "plans.batch_driver")
    trace(curation, "curate_documents", "plans.curation")
    for name in ("minhash_near_duplicates", "dedup_clusters", "pack_sequences", "weighted_sample"):
        trace(curation, name, "operators")
    trace(shards, "write_training_shards", "sinks.shards")

    upsert = files.parquet_upsert

    @functools.wraps(upsert)
    def counted_upsert(spark, df, target_dir, key_cols):
        def parts():
            if not os.path.isdir(target_dir):
                return 0
            return sum(f.endswith(".parquet") for f in os.listdir(target_dir))

        before = parts()
        n, span = tracer.call(
            "sinks.files", "parquet_upsert", upsert,
            (spark, df, target_dir, key_cols), {},
        )
        if span is not None:
            span.extra["rows"] = n
            span.extra["empty_append"] = n == 0 and parts() > before
        return n

    for mod in (files, batch_driver):
        patch(mod, "parquet_upsert", counted_upsert)
    for mod in (files, batch_driver):
        trace(mod, "audit_log_append", "sinks.files")
    trace(files.ProcessedLedger, "pending", "sinks.files")
    trace(files.ProcessedLedger, "mark", "sinks.files")

    run_parallel = parallel.run_parallel

    def traced_run_parallel(tasks, *args, **kwargs):
        def fan_out():
            # bound inside the span, so the workers' spans nest under it
            return run_parallel({k: tracer.bind(t) for k, t in tasks.items()}, *args, **kwargs)

        out, _ = tracer.call("parallel", "run_parallel", fan_out, (), {}, sets_group=False)
        return out

    patch(parallel, "run_parallel", traced_run_parallel)

    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        send = cls.__dict__["send_command"]

        def counted_send(self, command, _send=send):
            tracer.count_py4j()
            return _send(self, command)

        patch(cls, "send_command", counted_send)

    write_parquet = DataFrameWriter.__dict__["parquet"]

    def counted_parquet(self, *args, **kwargs):
        tracer.count_write()
        return write_parquet(self, *args, **kwargs)

    patch(DataFrameWriter, "parquet", counted_parquet)

    def restore() -> None:
        for owner, name, orig in reversed(undo):
            setattr(owner, name, orig)

    return restore


# -- interval arithmetic ------------------------------------------------------

def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(i for i in iv if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _minus(iv: list[tuple[float, float]], cut: list[tuple[float, float]]):
    """``iv`` minus ``cut`` (both unions)."""
    out = []
    for a, b in iv:
        pos = a
        for c, d in cut:
            if d <= pos or c >= b:
                continue
            if c > pos:
                out.append((pos, c))
            pos = max(pos, d)
        if pos < b:
            out.append((pos, b))
    return out


def _length(iv) -> float:
    return sum(b - a for a, b in iv)


# -- event log ----------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    t0: float
    t1: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs, with their tasks' metrics summed, from an uncompressed,
    non-rolling Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                jobs[job.id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.shuffle_fetch_wait_s += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def reduce_layers(spans: list[Span], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """{layer: {metric: value}} over ``spans`` and the jobs they own."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent.id, []).append(s)
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)

    out: dict[str, dict[str, float]] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        row = dict.fromkeys(STANDARD, 0.0)
        if layer in IO_LAYERS:
            row.update(dict.fromkeys(IO_EXTRAS, 0.0))
        wall, self_iv, gap_iv = [], [], []
        for s in mine:
            iv = [(s.t0, s.t1)]
            kids = _union([(c.t0, c.t1) for c in children.get(s.id, [])])
            own_self = _minus(iv, kids)
            own_jobs = _union([(j.t0, j.t1) for j in by_group.get(s.id, [])])
            wall += iv
            self_iv += own_self
            gap_iv += _minus(own_self, own_jobs)
        row["wall_s"] = _length(_union(wall))
        row["self_s"] = _length(_union(self_iv))
        row["calls"] = len(mine)
        row["driver_gap_s"] = _length(_union(gap_iv))
        for s in mine:
            row["py4j_calls"] += s.py4j
            for j in by_group.get(s.id, []):
                row["jobs"] += 1
                row["exec_run_s"] += j.run_s
                row["exec_cpu_s"] += j.cpu_s
                if layer in IO_LAYERS:
                    for k in IO_EXTRAS:
                        row[k] += getattr(j, k)
        if layer == "parallel":
            row = {k: row[k] for k in ("wall_s", "self_s", "calls")}
        if layer == "plans.batch_driver":
            row["staging_writes"] = sum(s.writes for s in mine)
        if layer == "sinks.files":
            ups = [s for s in mine if "rows" in s.extra]
            row["rows_inserted"] = sum(s.extra["rows"] for s in ups)
            row["empty_appends"] = sum(s.extra["empty_append"] for s in ups)
        out[layer] = row
    return out


def unattributed_s(spans: list[Span], t0: float, t1: float) -> float:
    """Time in [t0, t1] no span covers."""
    return _length(_minus([(t0, t1)], _union([(s.t0, s.t1) for s in spans])))
