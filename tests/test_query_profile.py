"""The query profiler's record (scripts/query_profile.py): its schema on
one batch query (A1) and one streaming query (M4), and that its numbers
come from the executed plan and the streaming listener."""

from __future__ import annotations

import json

from scripts.query_profile import profile
from tests.conftest import SF_DIR

RECORD_KEYS = {
    "name", "sf_dir", "nproc", "shuffle_partitions", "cold", "warm",
    "jobs", "stages", "tasks", "shuffle_bytes_written", "plan", "batches",
    "err",
}


def _check_common(rec: dict, name: str, reps: int) -> None:
    assert set(rec) == RECORD_KEYS, sorted(rec)
    assert rec["name"] == name and rec["sf_dir"] == SF_DIR
    assert rec["err"] is None
    assert rec["nproc"] >= 1 and rec["shuffle_partitions"] >= 1
    assert len(rec["warm"]) == reps
    for run in [rec["cold"], *rec["warm"]]:
        assert set(run) == {"build_s", "exec_s"}, run
        assert run["build_s"] >= 0 and run["exec_s"] >= 0
    assert rec["jobs"] >= 1 and 1 <= rec["stages"] <= rec["tasks"], rec
    json.dumps(rec)  # the CLI writes it as one JSON line


def _nodes(tree: dict) -> list[dict]:
    out, stack = [], [tree]
    while stack:
        node = stack.pop()
        out.append(node)
        stack.extend(node.get("children", ()))
    return out


def test_profile_record_batch_query(spark):
    """A1: the tree reaches the scan and the exchange through the AQE
    wrapper and query stages, with their runtime metrics; A1 runs no job
    while building, so the stage-level shuffle total equals the
    exchange's own bytes; a batch query has no batches."""
    rec = profile(spark, "A1_group_agg", SF_DIR, reps=1)
    _check_common(rec, "A1_group_agg", 1)
    nodes = _nodes(rec["plan"])
    assert rec["plan"]["op"] == "AdaptiveSparkPlan"
    for node in nodes:
        assert set(node) <= {"op", "metrics", "children"}, node
    scans = [n for n in nodes if n["op"].startswith("Scan parquet")]
    assert scans and all(n["metrics"]["numOutputRows"] > 0 for n in scans)
    exchanges = [n for n in nodes if n["op"] == "Exchange"]
    assert exchanges and rec["shuffle_bytes_written"] == sum(
        n["metrics"].get("shuffleBytesWritten", 0) for n in exchanges
    ) > 0
    assert any("pipelineTime" in n["metrics"] for n in nodes)
    assert rec["batches"] == []


def test_profile_record_streaming_query(spark):
    """M4: every micro-batch arrives with its durationMs phases and its
    state-operator metrics, and the stream's own jobs and shuffle bytes
    are counted, though the returned DataFrame (a read of the memory
    sink) has no exchange."""
    rec = profile(spark, "M4_session_window", SF_DIR, reps=1)
    _check_common(rec, "M4_session_window", 1)
    batches = rec["batches"]
    assert batches and sum(b["num_input_rows"] for b in batches) > 0
    for b in batches:
        assert {"batch_id", "num_input_rows", "duration_ms", "state_ops"} <= set(b)
        assert "triggerExecution" in b["duration_ms"], b
    ops = [op for b in batches for op in b["state_ops"]]
    assert ops and all(
        {"op", "rows_total", "commit_ms", "mem_bytes"} <= set(op) for op in ops
    )
    assert any(op["rows_total"] > 0 for op in ops)
    # the micro-batch jobs run under the stream's run id, not the
    # profiler's job group, which in a warm run holds only the one job
    # reading the sink
    assert rec["jobs"] >= 1 + len(batches), rec["jobs"]
    assert rec["shuffle_bytes_written"] > 0, rec
    assert not any(n["op"] == "Exchange" for n in _nodes(rec["plan"])), rec["plan"]
