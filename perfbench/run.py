"""Benchmark of the package's spec pipeline, lake analytics and streaming.

    python3 perfbench/run.py --workload pdf_etl --seed 1 --seconds 12 --trace 0

Run from the repository root (or any checkout of it). One run:

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench/work-<pid>/`` (reported as ``gen_s``, not set-up);
2. sets up ``SETUPS`` times (Spark session, table loading); the first
   also launches the JVM (``jvm_setup_s``), the median of the others is
   ``setup_s``;
3. runs one cold pass in the declared operation order, the workload's
   untimed warm-up passes, then measured passes for ``--seconds`` and at
   least three of them, each in a seeded order. A pass's time is the sum
   of its operations' own times; per-operation medians over the measured
   passes give the pass metrics;
4. checks the first pass against its reference (generator truth or the
   registry's DuckDB oracle) and every later pass's fingerprint against
   the first pass's;
5. prints every metric with its unit, writes a full record under
   ``.perfbench/records/`` and prints one JSON line last.

Pass times are taken on two clocks. Wall time (``first_pass_s``,
``pass_s``) is what one job's caller waits; CPU time (``first_pass_cpu_s``,
``pass_cpu_s``) is what the driver, the JVM and the Python workers
spend, which is what a shared or billed cluster pays for. CPU time
leaves out the time the hypervisor gives other guests and the time the
program waits for a core, so it moves less than wall time when the host
is busy; the contract's bounds apply to it.

``--trace 1`` measures untraced passes first and then traced ones, which
also record spans and Spark job counts; it prints the per-layer metrics
instead of the end-to-end ones, and the tracing overhead (traced minus
untraced pass time). Exits non-zero without a result line when the
package is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "test_dataengineer2026_spark"
#: Set-ups per run. The first also launches the JVM; ``setup_s`` is the
#: median of the others.
SETUPS = 4


def task_slots() -> int:
    """Spark task slots: half the cores, so the JVM's compiler and
    collector threads, the driver and the hypervisor's share of the host
    do not compete with the tasks for a core."""
    return max(1, host.nproc() // 2)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pdf_etl", "lake_and_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}


def run_pass(wl, tracer, n: int, measured: bool, fingerprints: dict) -> tuple[float, float]:
    """One closed-loop pass over the workload's operations; returns the
    sums of the operations' own wall and CPU times. Checking the outputs
    is not part of either."""
    wall = cpu = 0.0
    with tracer.span(f"pass.{n}"):
        for op in wl.pass_order(n):
            wl.attempted += 1
            try:
                fp, s = wl.run_op(op, measured)
            except Exception as e:  # one failed operation must not end the run
                wl.failures.append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
                continue
            wall += s.seconds
            cpu += s.cpu_seconds
            wl.history.append((n, op, round(s.seconds, 4), round(s.cpu_seconds, 3)))
            if measured:
                wl.sample(f"op.{op}", s.seconds)
                wl.sample(f"cpu.{op}", s.cpu_seconds)
            if n == 0:
                fingerprints[op] = fp
                problem = wl.check_first(op)
                if problem:
                    wl.failures.append(problem)
            elif fp != fingerprints.get(op):
                wl.failures.append(f"{op}: pass {n} output differs from the first pass")
    return wall, cpu


def measured_passes(
    wl, tracer, start: int, seconds: float, fingerprints: dict
) -> tuple[list[tuple[float, float]], dict[str, list[float]]]:
    """Measured passes numbered from ``start``, for ``seconds`` and at
    least three of them. Returns each pass's (wall, CPU) times and the
    per-operation medians over them, of wall time (``op``) and of CPU
    time (``cpu``)."""
    wl.reset_samples()
    passes, t0 = [], time.perf_counter()
    while len(passes) < 3 or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(wl, tracer, start + len(passes), True, fingerprints))
    medians = {
        kind: [statistics.median(wl.layers[f"{kind}.{op}"]) for op in wl.ops if wl.layers.get(f"{kind}.{op}")]
        for kind in ("op", "cpu")
    }
    if len(medians["op"]) < len(wl.ops):
        raise RuntimeError(f"an operation never completed: {wl.failures[:3]}")
    return passes, medians


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run(args: argparse.Namespace) -> dict:
    import workloads
    from spans import Tracer

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    records = os.path.join(state, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(records, exist_ok=True)
    conf = _environment(work)

    ticks0, load0 = host.cpu_ticks(), host.loadavg()
    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](ROOT, work, args.seed, tracer)
    try:
        t = time.perf_counter()
        inputs = wl.prepare()
        gen_s = time.perf_counter() - t

        # the first set-up starts the JVM and with it the CPU clock, so
        # only the others have CPU times
        setups = []
        for i in range(SETUPS):
            if i:
                wl.teardown()
            with tracer.span("setup", cpu=True) as s:
                wl.setup(conf)
            setups.append(s)

        # Pass 0 is cold, the next ones let the JIT settle. A traced run
        # first measures with tracing off, so the record can give the
        # tracing overhead against passes of the same process.
        fingerprints: dict = {}
        passes = [run_pass(wl, tracer, n, False, fingerprints) for n in range(1 + wl.warmup_passes)]
        untraced = []
        if args.trace:
            tracer.enabled = False
            untraced, plain = measured_passes(wl, tracer, len(passes), args.seconds, fingerprints)
            tracer.enabled = True
        measured, medians = measured_passes(
            wl, tracer, len(passes) + len(untraced), args.seconds, fingerprints
        )
        rss = host.tree_peak_rss_mb(host.jvm_pid(wl.spark))
        layer = wl.layer_metrics() if args.trace else {}
        e2e = {
            "setup_s": statistics.median(s.seconds for s in setups[1:]),
            "first_pass_cpu_s": passes[0][1],
            "pass_cpu_s": sum(medians["cpu"]),
        }
        extra = {
            "first_pass_s": passes[0][0],
            "pass_s": sum(medians["op"]),
            "gen_s": gen_s,
            "jvm_setup_s": setups[0].seconds,
            "setup_cpu_s": statistics.median(s.cpu_seconds for s in setups[1:]),
            "peak_rss_mb": rss,
            "setups_s": [s.seconds for s in setups],
            "setups_cpu_s": [s.cpu_seconds for s in setups[1:]],
            "passes_s": [p[0] for p in passes + untraced + measured],
            "passes_cpu_s": [p[1] for p in passes + untraced + measured],
            "measured_passes": len(measured),
            "ops": wl.history,
            "op_median_s": dict(zip(wl.ops, medians["op"])),
            "op_median_cpu_s": dict(zip(wl.ops, medians["cpu"])),
            "failed_frac": len(wl.failures) / wl.attempted,
        }
        if args.workload == "pdf_etl":
            extra["docs_per_s"] = inputs["docs"] / extra["pass_s"]
            if args.trace:
                extra["most_expensive_layer"] = wl.most_expensive_layer(layer)
        else:
            extra["query_geomean_s"] = geomean(medians["op"])
            extra["query_geomean_cpu_s"] = geomean(medians["cpu"])
            extra.update(wl.batch_latency())
        if args.trace:
            for name in ("session.start_s", "tables.load_s"):
                layer[name] = statistics.median(wl.setup_samples[name][1:])
            extra["untraced_measured_passes"] = len(untraced)
            extra["untraced_pass_s"] = sum(plain["op"])
            extra["untraced_pass_cpu_s"] = sum(plain["cpu"])
            extra["trace_overhead_s"] = extra["pass_s"] - extra["untraced_pass_s"]
            extra["trace_overhead_cpu_s"] = e2e["pass_cpu_s"] - extra["untraced_pass_cpu_s"]
    finally:
        wl.teardown()
        host.stop_jvm()
        wl.cleanup()
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": inputs,
        "host": {
            "nproc": host.nproc(),
            "cpu_steal_pct": host.steal_pct(ticks0, host.cpu_ticks()),
            "loadavg_start": load0,
            "loadavg_end": host.loadavg(),
            **host.versions(),
        },
        "end_to_end": e2e,
        "extra": extra,
        "per_layer": layer,
        "failures": wl.failures,
        "attempted": wl.attempted,
        "spans": tracer.export(),
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    record["path"] = path
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = declared()
    rec = run(args)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    extra_units = {
        "first_pass_s": "s", "pass_s": "s", "query_geomean_s": "s", "query_geomean_cpu_s": "s",
        "docs_per_s": "1/s", "batch_p50_ms": "ms", "batch_tail_ms": "ms", "gen_s": "s", "jvm_setup_s": "s",
        "setup_cpu_s": "s",
        "peak_rss_mb": "MB", "failed_frac": "ratio", "untraced_pass_s": "s", "untraced_pass_cpu_s": "s",
        "trace_overhead_s": "s", "trace_overhead_cpu_s": "s",
    }
    shown = rec["per_layer"] if args.trace else rec["end_to_end"]
    for name, value in {**shown, **rec["extra"]}.items():
        unit = units.get(name) or extra_units.get(name)
        if unit:
            print(f"{name} = {value:.6g} {unit}")
    if "batch_tail_pct" in rec["extra"]:
        x = rec["extra"]
        print(f"batch_tail_ms is p{x['batch_tail_pct']} of {x['batches']} measured micro-batches")
    h = rec["host"]
    print(f"host: nproc={h['nproc']} steal={h['cpu_steal_pct']}% load={h['loadavg_start']}->{h['loadavg_end']} "
          f"spark={h['spark']} python={h['python']}")
    for fail in rec["failures"]:
        print(f"FAILED {fail}")
    print(f"record: {os.path.relpath(rec['path'], ROOT)}")
    names = [m["name"] for m in (spec["per_layer"] if args.trace else spec["end_to_end"])]
    result = {
        "correct": not rec["failures"],
        "attempted": rec["attempted"],
        "failed": len(rec["failures"]),
        # a layer this workload never enters did no work: 0
        "metrics": {n: {"value": shown.get(n, 0), "unit": units[n]} for n in names},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
