"""Benchmark entry point.

    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout: it builds nothing, imports the package
from there, and keeps every file it makes under ``.etlbench_work/`` in
the checkout. One run = set up (session + seeded inputs), one cold
iteration, then warm iterations until ``--seconds`` have passed (at
least one). Every iteration's outputs are checked; the last line of
stdout is the result JSON, and the exit code is 1 when a check failed.

With ``--trace 1`` Spark's event log is on and, after the untraced warm
iterations, one more warm iteration runs with spans installed
(``layertrace.py``); the result then carries the per-layer metrics instead of
the end-to-end ones. A human-readable record (host, samples, checks) goes
to stderr.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

MIN_WARM = 1
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import ffi_export_etl_spark  # noqa: E402,F401  (fails outside a checkout)
import layertrace  # noqa: E402
import workloads  # noqa: E402


def _spark_env(work: str, traced: bool) -> None:
    """Point every scratch location of Python and the JVM into ``work``
    and pass Spark settings from outside the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # the inputs are small: with the package's 8g default heap the JVM
    # grew past 12 GB of RSS in trial runs; at 2g GC slowed the runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    # pyspark splits this variable with shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _clean_session(spark) -> int:
    """Drop every cached table and persisted RDD; returns how many RDDs
    were still persisted (left behind by the previous iteration)."""
    spark.catalog.clearCache()
    leaked = 0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
        leaked += 1
    if len(spark.sparkContext._jsc.getPersistentRDDs()) != 0:
        raise RuntimeError("persisted RDDs survive unpersist")
    return leaked


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc  # the JVM exits once its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    work = os.path.join(ROOT, ".etlbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _spark_env(work, traced)
    host = {
        "cpus": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
    }
    wl = workloads.WORKLOADS[args.workload]()
    tracer = layertrace.Tracer()
    try:
        if traced:
            restore = layertrace.install(tracer)
            tracer.enabled = True
        from ffi_export_etl_spark import session

        # no JDBC jar lookup in the home directory: the workloads never
        # use JDBC, and the run reads only its checkout
        session._JAR_CACHE[:] = [None]
        spark = session.get_spark(app_name=f"etlbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session.tune(spark)
        setup_spans = list(tracer.spans)
        tracer.enabled = False
        host["spark"] = spark.version
        input_bytes = wl.prepare(os.path.join(work, "inputs"), args.seed)
        setup_s = time.perf_counter() - _T_START
        try:
            result = _iterate(
                spark, wl, work, args.seed, args.seconds, input_bytes, traced, tracer
            )
        finally:
            _stop_spark(spark)
            if traced:
                restore()
        host["loadavg_end"] = os.getloadavg()
        layers = _layer_metrics(work, setup_spans, result, wl) if traced else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics_e2e = {
        "setup_s": (setup_s, "s"),
        "run_s_p50": (statistics.median(result["warm_s"]), "s"),
        "bytes_stored_per_input_byte": (result["bytes_ratio"], "ratio"),
        "files_written": (result["files_written"], "count"),
    }
    if traced:
        metrics = {n: {"value": layers[n], "unit": u} for n, u in layertrace.metric_names()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in metrics_e2e.items()}
    attempted, failed = result["attempted"], result["failed"]
    correct = failed == 0
    report = {
        "workload": args.workload, "seed": args.seed, "host": host,
        "warm_samples": len(result["warm_s"]), "warm_s": result["warm_s"],
        "failed_frac": failed / attempted, "problems": result["problems"],
        "leaked_rdds": result["leaked_rdds"], "first_s": result["first_s"],
        "end_to_end": {n: v for n, (v, _u) in metrics_e2e.items()},
    }
    print("# etlbench " + json.dumps(report), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _iterate(spark, wl, work, seed, seconds, input_bytes, traced, tracer) -> dict:
    """Cold iteration, then warm iterations until ``seconds`` have passed
    (at least MIN_WARM), and in a traced run one more warm iteration with
    spans on."""
    out = {"warm_s": [], "attempted": 0, "failed": 0, "problems": [],
           "leaked_rdds": [], "traced": None}
    # the first iteration may do other work than the warm ones (it builds
    # the history on ffi_append_history): digests are compared per kind
    digests: dict[bool, str] = {}

    def one(i: int, with_spans: bool = False):
        first = i == 0
        out["leaked_rdds"].append(_clean_session(spark))
        out_dir = os.path.join(work, "out", str(i))
        if os.path.exists(out_dir):
            raise RuntimeError(f"output dir {out_dir} is not fresh")
        wl.reset(out_dir, first)
        tracer.spans.clear()
        tracer.enabled = with_spans
        t0 = time.time()
        try:
            wall_s, res = wl.run(spark, out_dir, first)
        finally:
            tracer.enabled = False
        t1 = time.time()
        o = wl.check(spark, out_dir, res, first, wall_s)
        if o.digest != digests.setdefault(first, o.digest):
            o.problems.append(f"iteration {i}: output digest differs from an earlier one")
        if o.problems:
            o.failed = o.attempted
            out["problems"] += o.problems
        out["attempted"] += o.attempted
        out["failed"] += o.failed
        if with_spans:
            out["traced"] = {"spans": list(tracer.spans), "t0": t0, "t1": t1}
        shutil.rmtree(out_dir, ignore_errors=True)
        return o

    out["first_s"] = one(0).wall_s
    t_warm = time.perf_counter()
    i = 1
    while len(out["warm_s"]) < MIN_WARM or time.perf_counter() - t_warm < seconds:
        o = one(i)
        if i == 1:
            out["files_written"] = o.files
            out["bytes_ratio"] = o.out_bytes / input_bytes
        out["warm_s"].append(o.wall_s)
        i += 1
    if traced:
        one(i, with_spans=True)
    # the same inputs must give the same outputs in every run
    digest = f"{digests[True]}:{digests[False]}"
    digests_path = os.path.join(os.path.dirname(work), "digests.json")
    key = f"{wl.name}:{seed}:{input_bytes}"
    try:
        with open(digests_path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    if seen.setdefault(key, digest) != digest:
        out["problems"].append("output digest differs from an earlier run")
        out["failed"] = out["attempted"]
    with open(digests_path, "w") as f:
        json.dump(seen, f)
    return out


def _layer_metrics(work, setup_spans, result, wl) -> dict[str, float]:
    tr = result["traced"]
    log_dir = os.path.join(work, "eventlog")
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    jobs = layertrace.read_event_log(logs[0])
    rows = layertrace.reduce_layers(tr["spans"], jobs)
    rows["session"] = layertrace.reduce_layers(setup_spans, jobs)["session"]
    files = rows["sinks.files"]
    files["rows_offered"] = wl.rows_offered()
    files["inserted_per_offered"] = (
        files["rows_inserted"] / files["rows_offered"] if files["rows_offered"] else 0.0
    )
    flat = {f"{layer}.{k}": float(v) for layer, row in rows.items() for k, v in row.items()}
    flat["trace.unattributed_s"] = layertrace.unattributed_s(tr["spans"], tr["t0"], tr["t1"])
    return flat


if __name__ == "__main__":
    sys.exit(main())
