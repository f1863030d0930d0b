"""The benchmark's workloads: what each one runs, why, its input sizes,
the layer it should load most, and which layer metric should move which
end-to-end metric.

Load model: closed loop. One process, one caller, one load at a time, on
``local[N]`` with N = the host's cores. Every iteration starts from a
fresh output directory (empty, or the restored history) and a session
with no cached tables or persisted RDDs.

End-to-end metrics (tracing off):

- ``setup_s``: process start to a ready session with its inputs
  generated.
- ``run_s_p50``: median wall of the warm iterations (at least one; the
  sample count is on stderr).
- ``bytes_stored_per_input_byte``: bytes the first warm iteration added
  to its output directory per byte of its input.
- ``files_written``: files the first warm iteration added.

The first iteration in the fresh session (class loading, JIT and
codegen cold; every CLI invocation pays it once) is timed as ``first_s``
on stderr, not as a metric: it is one sample of 30-45 s per run, and
on ffi_append_history its quartiles across ten seeds spread by 0.19-0.32
of its median in three of five such sets on a 4-core host.

Peak resident memory (this process, the JVM and its children) is not a
metric: in trial runs it spread by more than half its median across
seeds, because GC timing decides how much of the heap the JVM touches.

Nor is the trace's overhead: warm iterations keep getting faster for
several iterations, by more than the trace's cost. A traced iteration
read 19% faster than the mean of the untraced ones on either side of it.

Failed operations are the result line's ``failed`` over ``attempted``.

Which layer metric should move which end-to-end metric (per-layer names
are ``<module>.<metric>``, from the traced run):

| layer | should move |
|---|---|
| session (wall_s) | setup_s on both workloads |
| sources.xml | ffi_append_history run_s_p50 (per-file reader cost); nothing on curate_docs |
| plans.ffi_pipeline (driver_gap_s, py4j_calls) | ffi_append_history run_s_p50 |
| plans.batch_driver | ffi_append_history run_s_p50 |
| parallel | ffi_append_history run_s_p50 (the concurrent upserts and discovery collects) |
| sinks.files (rows_inserted, inserted_per_offered, empty_appends) | ffi_append_history run_s_p50, files_written, bytes_stored_per_input_byte |
| plans.curation | curate_docs run_s_p50 |
| operators | curate_docs run_s_p50 |
| sinks.shards | curate_docs run_s_p50 and files_written |

Spark is lazy: a layer's jobs execute the whole lineage upstream of its
action. On ffi_append_history the XML parse and the pipeline's joins and
pivots mostly run inside the ``sinks.files`` upsert jobs; on curate_docs
``plans.curation`` only builds plans, the operators run their own jobs
and the ``sinks.shards`` write runs the rest of the lineage. That is the
trace working as designed, not a misattribution.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass

import gen


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# minted with uuid() on every load (functions/idents.generated_guid): the
# digest checks their shape, not their value
GENERATED_COLUMNS = ("SampleData_Original_GUID",)
_UUID_RE = re.compile(r"^[0-9A-F]{8}-[0-9A-F]{4}-[0-9A-F]{4}-[0-9A-F]{4}-[0-9A-F]{12}$")


def _stable(col: str, v):
    if col in GENERATED_COLUMNS and isinstance(v, str) and _UUID_RE.match(v):
        return "<uuid>"
    return repr(v)


def table_digest(table_dir: str) -> tuple[int, str]:
    """(rows, order-insensitive digest) of one parquet table dir, read
    with pyarrow so the check runs no Spark job."""
    import pyarrow.parquet as pq

    rows, acc = 0, 0
    for f in sorted(os.listdir(table_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(table_dir, f))
        cols = t.column_names
        for rec in zip(*(t.column(c).to_pylist() for c in cols)):
            # null and absent columns hash alike (appends may carry
            # different column subsets)
            item = sorted((c, _stable(c, v)) for c, v in zip(cols, rec) if v is not None)
            h = hashlib.blake2b(repr(item).encode(), digest_size=8).digest()
            acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
            rows += 1
    return rows, f"{acc:016x}"


@dataclass
class Outcome:
    """One iteration's result: its wall, the operations it attempted and
    failed, what it added on disk, and the digest the check compares
    across iterations and runs."""

    wall_s: float
    attempted: int
    failed: int
    files: int
    out_bytes: int
    digest: str
    problems: list[str]


def _load(spark, glob: str, out_dir: str) -> dict[str, int]:
    """``process_exports`` over ``glob``, summed per table."""
    from ffi_export_etl_spark.plans import batch_driver

    loaded: dict[str, int] = {}
    for tables in batch_driver.process_exports(spark, glob, out_dir).values():
        for t, n in tables.items():
            loaded[t] = loaded.get(t, 0) + n
    return loaded


def fragment(out_dir: str, tables, parts: int) -> None:
    """Rewrite each table's part files under ``out_dir`` as ``parts``
    files of consecutive rows: the layout that many small appends leave.
    Rows, and so digests, do not change."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in tables:
        d = os.path.join(out_dir, t)
        names = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        rows = pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in names])
        for f in os.listdir(d):
            if f.endswith((".parquet", ".parquet.crc")):
                os.remove(os.path.join(d, f))
        step = -(-rows.num_rows // parts)
        for i in range(parts):
            pq.write_table(rows.slice(i * step, step),
                           os.path.join(d, f"part-{i:05d}-history.parquet"))


class FfiAppendHistory:
    """``plans.batch_driver.process_exports`` (the CLI default, one
    upsert per file and table) appending a weekly export to a warehouse
    that already holds a history in many part files per table.

    The first iteration builds the history: it loads the history export
    into an empty warehouse (the cold iteration), then, untimed, splits
    every table into
    ``history_parts`` part files and keeps a copy as the pristine
    history. Each warm iteration restores that copy, untimed, and times
    the weekly load into it: a new path whose replicas are half
    re-exports (keys already stored, values re-drawn) and half new, so
    0.5 rows are inserted per row offered.

    Why: the routine weekly drop and the reference's MERGE semantics.
    Each of the file's table upserts lists and reads the stored keys of
    every history part file and anti-joins against them, so this is the
    workload where ``sinks.files`` reads as well as writes. At this size
    the time goes to driver work: one upsert job round per table, and
    discovery collects, Catalyst analysis and py4j in
    ``plans.ffi_pipeline``. Layer loaded most: ``sinks.files`` (its jobs
    also run the parse and the pipeline's joins), then
    ``plans.ffi_pipeline``.

    Inputs: a history export of 32 replicas (~430 KB of XML), stored as
    16 part files in each of 14 warehouse tables, and a weekly export of
    8 replicas (~110 KB) that offers 136 rows and inserts 68. The history
    is small in bytes: its cold load is paid in every run, and a 64-
    replica history took 42 s cold. On a 4-core host the first iteration
    takes ~36-40 s and a warm one ~20 s; with the history in one part file
    per table a warm one took ~12 s.
    """

    name = "ffi_append_history"
    replicas = 8
    history_replicas = 32
    history_parts = 16

    def prepare(self, work: str, seed: int) -> int:
        half = self.replicas // 2
        gen.write_exports(os.path.join(work, "history"), [(0, 0, 0)],
                          self.history_replicas, seed, "history")
        # replicas history_replicas - half .. : half stored, half new
        (weekly,) = gen.write_exports(
            os.path.join(work, "weekly"), [(0, 1, self.history_replicas - half)],
            self.replicas, seed, "weekly")
        self.inputs = {k: os.path.join(work, k, "*.xml") for k in ("history", "weekly")}
        self.inserted = {"history": gen.expected_rows(self.history_replicas),
                         "weekly": gen.expected_rows(self.replicas - half)}
        self.stored = {"history": self.inserted["history"],
                       "weekly": gen.expected_rows(self.history_replicas + self.replicas - half)}
        self.pristine = os.path.join(work, "pristine")
        return os.path.getsize(weekly)

    def reset(self, out_dir: str, first: bool) -> None:
        if not first:
            shutil.copytree(self.pristine, out_dir)

    def run(self, spark, out_dir: str, first: bool) -> tuple[float, dict]:
        kind = "history" if first else "weekly"
        t0 = time.perf_counter()
        loaded = _load(spark, self.inputs[kind], out_dir)
        wall_s = time.perf_counter() - t0
        if first:
            fragment(out_dir, self.stored["history"], self.history_parts)
            shutil.copytree(out_dir, self.pristine)
        return wall_s, {kind: loaded}

    def check(self, spark, out_dir: str, loaded: dict, first: bool, wall_s: float) -> Outcome:
        import glob as globmod

        from ffi_export_etl_spark.sinks.files import ProcessedLedger

        problems = []
        (kind, got), = loaded.items()
        expected, stored = self.inserted[kind], self.stored[kind]
        ledger = ProcessedLedger(os.path.join(out_dir, "_processed.jsonl"))
        files = sorted(globmod.glob(self.inputs[kind]))
        pending = ledger.pending(files)
        if pending:
            problems.append(f"{kind}: pending files {pending}")
        if got != expected:
            problems.append(f"{kind}: inserted rows {got}, expected {expected}")
        attempted = len(files) * len(expected)
        failed = len(pending) * len(expected) + sum(t not in got for t in expected)
        digests = {}
        for t in sorted(stored):
            rows, digests[t] = table_digest(os.path.join(out_dir, t))
            if rows != stored[t]:
                problems.append(f"{t}: {rows} rows stored, {stored[t]} expected")
        n_files, n_bytes = _tree(out_dir)
        base_files, base_bytes = _tree(self.pristine)
        return Outcome(wall_s, attempted, min(failed, attempted),
                       n_files - base_files, n_bytes - base_bytes,
                       hashlib.sha256(json.dumps(digests).encode()).hexdigest(), problems)

    def rows_offered(self) -> int:
        return sum(gen.expected_rows(self.replicas).values())


class CurateDocs:
    """``plans.curation.curate_documents`` with the settings of the
    ``cur_e2e`` query (``queries/curation_q.py``), then
    ``sinks.shards.write_training_shards`` with checksums.

    Why: without it ``operators.*`` (minhash, bucket pairs, components,
    packing, sampling), ``plans.curation`` and ``sinks.shards`` go
    unmeasured; ``cur_e2e`` is the repo's composed end-to-end curation
    row. It uses no loader layer: every loader layer reads zero here.
    Layer loaded most: ``operators`` (minhash and connected components
    run their own jobs), then ``sinks.shards`` (its write executes the
    rest of the curation lineage).

    Inputs: 5,000 generated documents (the size of the sf0.1
    ``documents`` table), 20 sources, 10% near-duplicates in pairs and
    20% sharing a boilerplate first line (``gen.documents``). The dedup
    structure is the same for every seed; with random chains of copies
    the run time varied by a fifth between seeds. On a 4-core host a
    warm iteration takes ~14-17 s and the cold one ~31-38 s, mostly per-job
    driver and scheduling work: 2,500 documents took as long.
    """

    name = "curate_docs"
    n_docs = 5000
    rows_per_shard = 500

    def prepare(self, work: str, seed: int) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(work, exist_ok=True)
        rows = gen.documents(self.n_docs, seed)
        cols = ("doc_id", "text", "lang", "source", "n_chars")
        self.path = os.path.join(work, "documents.parquet")
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), self.path
        )
        return os.path.getsize(self.path)

    def reset(self, out_dir: str, first: bool) -> None:
        pass

    def run(self, spark, out_dir: str, first: bool) -> tuple[float, dict]:
        from pyspark.sql import functions as F

        from ffi_export_etl_spark.plans import curation
        from ffi_export_etl_spark.queries import curation_q as cq
        from ffi_export_etl_spark.sinks import shards

        t0 = time.perf_counter()
        docs = spark.read.parquet(self.path)
        # cur_e2e's reshape: E2E_LINE_TOKENS-token lines, so the
        # boilerplate stage has line structure to strip
        toks = F.split(F.col("text"), r"\s+")
        relined = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.size(toks), F.lit(cq.E2E_LINE_TOKENS)),
                lambda s: F.array_join(F.slice(toks, s, cq.E2E_LINE_TOKENS), " "),
            ),
            "\n",
        )
        out = curation.curate_documents(
            docs.withColumn("text", relined),
            id_col="doc_id",
            text_col="text",
            source_col="source",
            mixture=cq.E2E_MIX,
            default_fraction=cq.E2E_DEFAULT_FRACTION,
            min_words=cq.E2E_MIN_WORDS,
            jaccard_threshold_pct=cq.E2E_JACCARD_PCT,
            capacity=cq.E2E_CAPACITY,
            boilerplate_min_docs=cq.E2E_BOILER_MIN_DOCS,
        )
        manifest = shards.write_training_shards(
            out, out_dir, "id", rows_per_shard=self.rows_per_shard, checksums=True
        ).collect()
        curation.release_curation_caches(out)
        return time.perf_counter() - t0, {"manifest": manifest}

    def check(self, spark, out_dir: str, result: dict, first: bool, wall_s: float) -> Outcome:
        from ffi_export_etl_spark.sinks import shards

        manifest = result["manifest"]
        report = shards.verify_training_shards(spark, out_dir).collect()
        problems = [f"shard {r['file']} failed verification" for r in report if not r["ok"]]
        if not manifest or sum(r["n_rows"] for r in manifest) == 0:
            problems.append("no rows written")
        digest = hashlib.sha256(json.dumps(
            sorted((r["n_rows"], r["row_digest"], str(r["first_key"]), str(r["last_key"]))
                   for r in manifest)
        ).encode()).hexdigest()
        attempted = max(1, len(manifest))
        n_files, n_bytes = _tree(out_dir)
        return Outcome(wall_s, attempted, attempted if problems else 0,
                       n_files, n_bytes, digest, problems)

    def rows_offered(self) -> int:
        return 0


WORKLOADS = {w.name: w for w in (FfiAppendHistory, CurateDocs)}
