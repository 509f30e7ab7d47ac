"""Physical-plan audit helpers (SURVEY.md §4.2's "engine-side
obligations", made checkable).

The 100 TB design contract is mostly about what the PLAN looks like,
not what the local run returns: filters must reach the parquet scan
(PushedFilters), projections must prune the read schema (ReadSchema),
small dims must broadcast, hot paths must stay inside whole-stage
codegen, and no operator may introduce an Exchange the query doesn't
need. The string helpers extract those facts from ``df.explain`` output
so tests can pin them — a regression that silently turns a broadcast
join into a 100 TB shuffle now fails CI, not the cluster bill.

``plan_nodes`` walks the physical plan itself rather than its text:
every operator of ``df``'s own QueryExecution, through the AQE wrapper,
query stages and subqueries. After ``execute(df)`` the nodes carry their
runtime metrics; ``operator_tree`` turns them into the JSON tree that
``scripts/query_profile.py`` records. Text mode truncates long scan locations and
filter lists; the walk reads the JVM objects, so it does not.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (``df.explain`` without stdout)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def scan_read_schemas(plan: str) -> list[str]:
    """ReadSchema clause of every file scan in the plan."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def pushed_filters(plan: str) -> list[str]:
    """PushedFilters clause of every file scan (empty list = no scan
    carries pushed predicates)."""
    return [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]


def exchange_count(plan: str) -> int:
    """Number of shuffle Exchange operators in the (initial) simple-mode
    plan (pass ``plan_string(df, "simple")``).

    AQE may later coalesce partitions or convert joins, but every
    planned Exchange is data crossing the cluster at scale — count them
    against the minimum the query semantically needs. Broadcast and
    single-partition (collect-side) exchanges are excluded.
    """
    return len(re.findall(r"Exchange hashpartitioning", plan)) + len(
        re.findall(r"Exchange rangepartitioning", plan)
    )


def join_kinds(plan: str) -> list[str]:
    """Physical join operators in plan order."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def has_wholestage_codegen(plan: str) -> bool:
    """True if any stage runs fused codegen. Simple mode marks fused
    operators with ``*(n)``; formatted mode with ``[codegen id : n]``."""
    return bool(re.search(r"\*\(\d+\)|\[codegen id : \d+\]", plan))


def audit(df: DataFrame) -> dict:
    """One-call summary used by the audit script and tests."""
    formatted = plan_string(df, "formatted")
    simple = plan_string(df, "simple")
    return {
        "exchanges": exchange_count(simple),
        "joins": join_kinds(simple),
        "pushed_filters": pushed_filters(formatted),
        "read_schemas": scan_read_schemas(formatted),
        "wholestage": has_wholestage_codegen(simple),
    }


def execute(df: DataFrame) -> int:
    """Run ``df``'s own QueryExecution and return its row count, so the
    plan ``plan_nodes(df)`` walks carries runtime metrics. A noop write
    or ``df.count()`` builds a new QueryExecution whose metrics never
    reach ``df``, and ``collect()`` pulls every row to the driver."""
    return df._jdf.queryExecution().toRdd().count()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _children(node) -> list:
    """The operators below ``node`` as the walk sees them. The AQE
    wrapper and query stages hold their plans outside ``children()``
    (they look like leaves), so the walk steps into them explicitly;
    subqueries (e.g. a dynamic-pruning broadcast) are added too. A
    ``ReusedExchangeExec`` is a leaf that points at an exchange counted
    where it first ran, so the walk does not descend through it."""
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = _seq(node.children())
    return kids + _seq(node.subqueries())


def plan_nodes(df: DataFrame) -> Iterator:
    """Every physical operator (a JVM ``SparkPlan``) of ``df``'s
    executed plan, parents before children. Before ``execute(df)`` under
    AQE this is the initial plan; after it, the final one."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(reversed(_children(node)))


def node_metrics(node) -> dict[str, int]:
    """The node's non-zero SQL metrics by name. Timings are in ms:
    Spark keeps some (e.g. ``shuffleWriteTime``) in ns."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        value = metric.value()
        if metric.metricType() == "nsTiming":
            value //= 1_000_000
        if value:
            out[kv._1()] = value
    return out


def operator_tree(df: DataFrame) -> dict:
    """``df``'s executed plan as nested ``{"op", "metrics",
    "children"}`` dicts (``children`` omitted on leaves)."""
    root: dict = {}
    stack = [(df._jdf.queryExecution().executedPlan(), root)]
    while stack:
        node, out = stack.pop()
        out["op"] = node.nodeName().strip()
        out["metrics"] = node_metrics(node)
        kids = _children(node)
        if kids:
            out["children"] = [{} for _ in kids]
            stack.extend(zip(kids, out["children"]))
    return root

