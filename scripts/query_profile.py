"""Where did a query's time go? One JSON record per registered query,
read from its executed physical plan.

Each query runs once cold and ``--reps`` times warm in one session,
after the same untimed warm-up as bench.py. Every run is timed in two
parts: building the DataFrame on the driver (for streaming queries this
includes the micro-batch run itself) and executing it. The last run also
supplies the job, stage and task counts and the shuffle bytes written,
summed over every stage the run's jobs completed (including jobs run
while building the DataFrame and, for streaming queries, the
micro-batches); the returned DataFrame's executed operator tree with
each node's SQL metrics; and, for streaming queries, every micro-batch's
``durationMs`` and state-operator metrics.

Usage:
    python scripts/query_profile.py                   # bench.py's headline queries
    python scripts/query_profile.py A1 SQL1 M4        # name-prefix filter
    python scripts/query_profile.py "" --reps 1 --out QUERY_PROFILE.jsonl
    python scripts/query_profile.py D2 --plans-dir plans/r20

``""`` selects the whole registry. ``SPARK_GRAFT_SF_DIR`` selects the
scale, as for bench.py. A failing query yields a record with ``err`` set
and the run goes on. ``--out`` appends and, on a rerun, skips queries
that already have a clean record for the same scale, so a long sweep can
run in slices (e.g. under ``timeout``) and be resumed.

Record fields: name, sf_dir, nproc, shuffle_partitions, cold and warm
(``{"build_s", "exec_s"}`` per run), jobs, stages, tasks,
shuffle_bytes_written, plan (``plans.audit.operator_tree``), batches
(``streaming.jobs.MetricsListener.progress``), err.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SF_DIR
from test_dataengineer2026_spark import registry, tables
from test_dataengineer2026_spark.plans.audit import execute, operator_tree
from test_dataengineer2026_spark.session import get_session
from test_dataengineer2026_spark.streaming.jobs import MetricsListener


def load_tables(spark, sf_dir: str) -> None:
    """Read every base relation's footers and register the SQL views for
    ``sf_dir`` (both memoized per session), so a timed query at this
    scale does not pay for them."""
    for t in tables.TABLES:
        tables.load(spark, sf_dir, t)
    tables.register_views(spark, sf_dir)


def warm_up(spark, sf_dir: str) -> None:
    """bench.py's untimed session warm-up, so the first measured query
    does not absorb one-time engine setup: one relational query
    (JVM/codegen), one tiny streaming query (micro-batch engine and
    state store), ``load_tables`` and one Arrow-batched mapInPandas
    (Python worker pool)."""
    qs = registry.queries()
    qs["A1_group_agg"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    qs["M2_tumbling_window"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    load_tables(spark, sf_dir)
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def _job_totals(sc, groups: list[str]) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, shuffle bytes written) of the jobs run under
    the given job groups, from the driver's in-process status store (no
    UI needed). This covers every job of the run: those of the returned
    DataFrame and those run while building it (eager operator steps,
    checkpoints, micro-batches). Stages that ran no task (skipped: their
    shuffle output was reused) are left out."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = stages = tasks = shuffle_bytes = 0
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group) or []:
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numTasks
                    shuffle_bytes += store.lastStageAttempt(sid).shuffleWriteBytes()
    return jobs, stages, tasks, shuffle_bytes


def profile(
    spark, name: str, sf_dir: str, reps: int = 3, plans_dir: str | None = None
) -> dict:
    """Profile one registered query: a cold run, then ``reps`` warm runs.
    With ``plans_dir``, also write the last run's formatted executed plan
    to ``<plans_dir>/<name>.txt``."""
    fn = registry.queries()[name]
    sc = spark.sparkContext
    runs = []
    for i in range(reps + 1):
        spark.catalog.clearCache()
        group = f"query_profile:{name}:{i}"
        listener = MetricsListener()
        listener.attach(spark)
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            execute(df)
            t2 = time.perf_counter()
            if listener.run_ids:
                listener.await_terminated()
        finally:
            sc.setJobGroup(None, None)
            listener.detach(spark)
        runs.append({"build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3)})
    # Spark runs a stream's jobs under the stream's run id as job group.
    jobs, stages, tasks, shuffle_bytes = _job_totals(sc, [group, *listener.run_ids])
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(mode))
    return {
        "name": name,
        "sf_dir": sf_dir,
        "nproc": len(os.sched_getaffinity(0)),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cold": runs[0],
        "warm": runs[1:],
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "shuffle_bytes_written": shuffle_bytes,
        "plan": operator_tree(df),
        "batches": listener.progress,
        "err": None,
    }


def _done(path: str | None, sf_dir: str) -> set[str]:
    """Names whose latest record in ``path`` for ``sf_dir`` is clean. A
    query that errored is retried on resume."""
    latest: dict[str, dict] = {}
    if path and os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    if rec.get("sf_dir") == sf_dir:
                        latest[rec["name"]] = rec
    return {n for n, r in latest.items() if not r.get("err")}


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        description=(
            "Profile registered queries at $SPARK_GRAFT_SF_DIR: one JSON "
            "record per query with build/cold/warm times, job/stage/task "
            "counts, the executed operator tree with its metrics, shuffle "
            "bytes written and streaming micro-batch metrics."
        )
    )
    ap.add_argument(
        "prefixes", metavar="PREFIX", nargs="*",
        help='only queries whose name starts with one of these ("" = all; '
             "default: bench.py's headline set)",
    )
    ap.add_argument(
        "--reps", type=int, default=3, help="warm runs per query (default 3)"
    )
    ap.add_argument(
        "--out", help="append records to this file and skip queries it "
                      "already holds clean for this scale",
    )
    ap.add_argument(
        "--plans-dir", help="write each query's formatted executed plan here"
    )
    return ap


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """CLI: query-name prefixes and the three flags (parse-only: the
    empty-selection check needs the registry, so it happens in main)."""
    ap = _build_parser()
    args = ap.parse_args(argv)
    if args.reps < 0:
        ap.error("--reps must be >= 0")
    return args


def main() -> None:
    args = parse_args()
    qs = registry.queries()
    prefixes = tuple(args.prefixes)
    names = [n for n in qs if n.startswith(prefixes)] if prefixes else HEADLINE
    if not names:
        _build_parser().error(f"no registered query matches {list(prefixes)}")
    done = _done(args.out, SF_DIR)
    names = [n for n in names if n not in done]
    spark = get_session("query-profile")
    warm_up(spark, SF_DIR)
    for name in names:
        try:
            rec = profile(spark, name, SF_DIR, args.reps, args.plans_dir)
        except Exception as e:  # noqa: BLE001 — a sweep must finish
            rec = {"name": name, "sf_dir": SF_DIR, "err": f"{type(e).__name__}: {e}"[:300]}
        line = json.dumps(rec, default=str)
        print(line, flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
