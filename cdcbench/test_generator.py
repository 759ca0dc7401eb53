"""Tests of the benchmark's changelog generator.

    python3 -m pytest cdcbench/test_generator.py -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from cdcbench.gen import SCHEMA, generate
from cdcbench.workloads import WORKLOADS
from gnarly_spark.fixtures import CHANGELOG_COLUMNS, CHANGELOG_DDL


def _files(out: str) -> list[str]:
    return [
        os.path.join(out, sub, f)
        for sub in ("warm", "main")
        for f in sorted(os.listdir(os.path.join(out, sub)))
    ]


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def two_seeds(request, tmp_path_factory):
    base = tmp_path_factory.mktemp(request.param)
    a, b = str(base / "a"), str(base / "b")
    return request.param, (generate(request.param, 1, a), a), (generate(request.param, 2, b), b)


def test_schema_matches_changelog_ddl():
    assert SCHEMA.names == CHANGELOG_COLUMNS
    ddl_types = [c.strip().split(" ", 1)[1] for c in CHANGELOG_DDL.split(",")]
    arrow_to_ddl = {"int64": "long", "string": "string", "binary": "binary"}
    for field, ddl in zip(SCHEMA, ddl_types):
        want = "timestamp" if str(field.type).startswith("timestamp") else arrow_to_ddl[str(field.type)]
        assert want == ddl, field.name


def test_two_seeds_same_counts_different_content(two_seeds):
    workload, (spec_a, a), (spec_b, b) = two_seeds
    w = WORKLOADS[workload]
    counts = ("events", "warm_events", "files", "warm_files", "blocks", "n_urls")
    assert {k: spec_a[k] for k in counts} == {k: spec_b[k] for k in counts}
    assert spec_a["events"] == w["blocks"] * w["events_per_block"]
    rows_a = [pq.read_metadata(f).num_rows for f in _files(a)]
    rows_b = [pq.read_metadata(f).num_rows for f in _files(b)]
    assert rows_a == rows_b
    ta, tb = pq.read_table(_files(a)), pq.read_table(_files(b))
    assert ta.num_rows == sum(rows_a) == spec_a["events"] + spec_a["warm_events"]
    # same op mix sizes are not required, but keys and payloads must differ
    assert set(ta.column("url").to_pylist()) != set(tb.column("url").to_pylist())
    assert ta.column("html").to_pylist() != tb.column("html").to_pylist()
    assert ta.column("op").to_pylist() != tb.column("op").to_pylist()


def test_same_seed_same_bytes(tmp_path):
    generate("tail", 7, str(tmp_path / "x"))
    generate("tail", 7, str(tmp_path / "y"))
    tx = pq.read_table(_files(str(tmp_path / "x")))
    ty = pq.read_table(_files(str(tmp_path / "y")))
    assert tx.equals(ty)


def test_files_deliver_in_op_seq_order(two_seeds):
    """The file-stream source orders by mtime: stamped mtimes must follow
    names across the warm and main dirs, and each file's op_seq range
    must start after the previous file's, so no trigger can land beyond
    the retention window mid-run."""
    _, (_, a), _ = two_seeds
    files = _files(a)
    by_mtime = sorted(files, key=os.path.getmtime)
    assert by_mtime == sorted(files, key=os.path.basename)
    prev_max = 0
    for f in by_mtime:
        seq = pq.read_table(f, columns=["op_seq", "block_id"])
        lo, hi = seq.column("op_seq").to_pylist()[0], seq.column("op_seq").to_pylist()[-1]
        assert lo == prev_max + 1 and hi >= lo
        prev_max = hi


def test_reverts_name_the_previous_block(two_seeds):
    workload, (spec, a), _ = two_seeds
    w = WORKLOADS[workload]
    t = pq.read_table(_files(a)).to_pandas()
    hash_of = dict(zip(t["block_id"], t["block_hash"]))
    rev = t[t["op"] == "revert"]
    assert len(rev) == spec["blocks"] // w["revert_every"]
    for _, r in rev.iterrows():
        assert r["revert_of_block"] == hash_of[r["block_id"] - 1]
        assert r["url"] is None


def test_spec_file_written_last(tmp_path):
    out = str(tmp_path / "t")
    spec = generate("tail", 3, out)
    with open(os.path.join(out, "spec.json")) as f:
        assert json.load(f) == spec
    assert os.path.exists(os.path.join(out, "DONE"))
