"""Workload helpers that need no Spark."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import workloads


def test_fragment_splits_parts_and_keeps_rows(tmp_path):
    d = tmp_path / "T"
    d.mkdir()
    pq.write_table(pa.table({"k": list(range(10)), "v": [str(i) for i in range(10)]}),
                   d / "part-0.parquet")
    (d / ".part-0.parquet.crc").write_bytes(b"stale")
    (d / "_SUCCESS").write_bytes(b"")
    before = workloads.table_digest(str(d))
    workloads.fragment(str(tmp_path), ["T"], 4)
    assert sorted(os.listdir(d)) == ["_SUCCESS"] + [f"part-{i:05d}-history.parquet" for i in range(4)]
    assert workloads.table_digest(str(d)) == before
