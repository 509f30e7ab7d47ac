"""Tests of the benchmark itself (not part of the package's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark-backed tests start local sessions and full benchmark runs
(two to four minutes together on four cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import lakegen  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("pdf_etl", "lake_and_stream")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_merge_pages_keeps_page_order_and_hex_text():
    from test_dataengineer2026_spark.extraction.pdf import extract_pages, render_pdf, render_pdf_hex

    pdf = corpus.merge_pages([render_pdf("first (page)"), render_pdf_hex("second page"), render_pdf("third")])
    assert extract_pages(pdf) == [(0, "first (page)"), (1, "second page"), (2, "third")]


def test_generators_are_seeded(tmp_path):
    def digest(d):
        return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest() for f in sorted(os.listdir(d))}

    lakegen.generate(str(tmp_path / "a"), 7)
    lakegen.generate(str(tmp_path / "b"), 7)
    lakegen.generate(str(tmp_path / "c"), 8)
    assert digest(tmp_path / "a") == digest(tmp_path / "b") != digest(tmp_path / "c")
    a = corpus.write_corpus(str(tmp_path / "pa"), 3, 20)
    b = corpus.write_corpus(str(tmp_path / "pb"), 3, 20)
    assert digest(tmp_path / "pa") == digest(tmp_path / "pb")
    assert a.expected() == b.expected()


def test_corpus_truth_trips_every_reachable_rule(tmp_path):
    c = corpus.write_corpus(str(tmp_path), 1, 60, refile_share=0.3)
    assert c.files > c.docs
    counts = c.quarantine_counts()
    assert counts["nonpositive_tonnes"] > 0 and counts["grade_out_of_range"] > 0
    econ = c.expected()["economics"]
    assert any(None in row for row in econ)


def test_tree_cpu_counts_a_busy_child():
    import host

    busy = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nsys.stdin.read()"
    child = subprocess.Popen([sys.executable, "-c", busy], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while host.tree_cpu_s(child.pid) - time.process_time() < 0.45 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert host.tree_cpu_s(child.pid) - time.process_time() >= 0.45
    finally:
        child.stdin.close()
        child.wait()


def test_batch_tail_leaves_ten_samples_above():
    w = workloads.LakeAndStream.__new__(workloads.LakeAndStream)
    w.layers = {"batch_ms": list(range(1, 41))}
    out = w.batch_latency()
    assert out["batch_p50_ms"] == 20.5
    assert out["batch_tail_pct"] == 75
    assert sum(x > out["batch_tail_ms"] for x in w.layers["batch_ms"]) >= 10


def test_run_corpus_output_equals_generator_truth(tmp_path):
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus
    from test_dataengineer2026_spark.session import get_session

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    c = corpus.write_corpus(str(tmp_path / "in"), 4, 12, refile_share=0.5)
    spark = get_session("perfbench-test")
    run_corpus(spark, str(tmp_path / "in"), str(tmp_path / "out"), fmt="parquet")
    w = workloads.PdfEtl.__new__(workloads.PdfEtl)
    w.out = str(tmp_path / "out")
    got = w.read_output()
    assert got["mineral_resources"] and got["mineral_reserves"]
    assert got == c.expected()


@pytest.fixture(scope="module")
def traced() -> dict[str, tuple[dict, dict]]:
    """One traced run per workload: (result line, full record)."""
    out = {}
    for w in WORKLOADS:
        proc = run_bench(w, trace=1)
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = proc.stdout.strip().splitlines()
        path = next(line.split(": ", 1)[1] for line in lines if line.startswith("record: "))
        with open(os.path.join(ROOT, path)) as f:
            out[w] = (json.loads(lines[-1]), json.load(f))
    return out


def test_traced_run_emits_declared_per_layer_names(traced):
    names = [m["name"] for m in declared()["per_layer"]]
    for w, (result, _) in traced.items():
        assert result["correct"] and result["failed"] == 0, w
        assert list(result["metrics"]) == names, w


def test_every_declared_per_layer_name_is_measured_by_some_workload(traced):
    measured = set().union(*(set(rec["per_layer"]) for _, rec in traced.values()))
    assert measured == {m["name"] for m in declared()["per_layer"]}
    assert traced["pdf_etl"][1]["extra"]["most_expensive_layer"]["layer"]
    for _, rec in traced.values():
        assert rec["spans"]
        assert rec["extra"]["untraced_measured_passes"] >= 3
        assert "trace_overhead_s" in rec["extra"]


def test_untraced_run_emits_declared_end_to_end_names():
    proc = run_bench("lake_and_stream", trace=0)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert list(result["metrics"]) == [m["name"] for m in declared()["end_to_end"]]
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name in ("setup_s", "first_pass_s", "pass_s", "pass_cpu_s", "query_geomean_s", "batch_p50_ms", "failed_frac"):
        assert any(line.startswith(f"{name} = ") for line in lines), name


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("pdf_etl", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
