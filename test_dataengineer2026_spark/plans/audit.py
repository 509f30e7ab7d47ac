"""Physical-plan audit (SURVEY.md §4.2's "engine-side obligations",
made checkable).

The 100 TB design contract is mostly about what the PLAN looks like,
not what the local run returns: filters must reach the parquet scan
(PushedFilters), projections must prune the read schema (ReadSchema),
small dims must broadcast, hot paths must stay inside whole-stage
codegen, and no operator may introduce an Exchange the query doesn't
need. ``audit`` reads those facts off the plan's operators so tests can
pin them — a regression that silently turns a broadcast join into a
100 TB shuffle now fails CI, not the cluster bill.

``plan_nodes`` walks the physical plan itself rather than its text:
every operator of ``df``'s own QueryExecution, through the AQE wrapper,
query stages and subqueries. ``audit`` and ``file_scans`` read that
walk; after ``execute(df)`` the nodes also carry their runtime metrics,
and ``operator_tree`` turns them into the JSON tree that
``scripts/query_profile.py`` records. Simple-mode explain text cuts
scan metadata (ReadSchema, filter lists) at
``spark.sql.maxMetadataStringLength``; the JVM objects do not.
``plan_string`` stays for checks on operator names and logical plans.
"""

from __future__ import annotations

import contextlib
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame

#: Physical join operators, by node name.
_JOINS = {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct"}
_SCAN_KEYS = ("ReadSchema", "PushedFilters", "PartitionFilters", "DataFilters")


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (``df.explain`` without stdout)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _scan(node) -> dict[str, str]:
    meta = node.metadata()
    return {k: meta.apply(k) for k in _SCAN_KEYS}


def file_scans(df: DataFrame) -> list[dict[str, str]]:
    """ReadSchema, PushedFilters, PartitionFilters and DataFilters of
    every file scan (``FileSourceScanExec``) in walk order, untruncated.
    Filter lists keep their brackets: ``"[]"`` is an empty list."""
    nodes = plan_nodes(df)
    return [_scan(n) for n in nodes if n.getClass().getSimpleName() == "FileSourceScanExec"]


def audit(df: DataFrame) -> dict:
    """The plan facts the contract tests pin, read from ``plan_nodes``
    without running ``df`` (under AQE: the initial plan, which has no
    codegen stages yet). A cached relation is an input; the plan that
    filled it is not walked.

    - ``exchanges``: shuffles by hash or range partitioning, against
      the minimum the query semantically needs — AQE may coalesce or
      convert later, but each is data crossing the cluster at scale.
      Broadcast and single-partition exchanges are not counted, and a
      reused exchange counts once, where it first runs.
    - ``joins``: physical join operators in walk order.
    - ``pushed_filters``: each scan's non-empty PushedFilters, without
      brackets; ``read_schemas``: each scan's ReadSchema.
    - ``wholestage``: whether any stage runs fused codegen.
    """
    nodes = [(n, n.getClass().getSimpleName().removesuffix("Exec")) for n in plan_nodes(df)]
    scans = [_scan(n) for n, kind in nodes if kind == "FileSourceScan"]
    return {
        "exchanges": sum(
            kind == "ShuffleExchange"
            and n.outputPartitioning().getClass().getSimpleName()
            in ("HashPartitioning", "RangePartitioning")
            for n, kind in nodes
        ),
        "joins": [kind for _, kind in nodes if kind in _JOINS],
        "pushed_filters": [f[1:-1] for f in (s["PushedFilters"] for s in scans) if f != "[]"],
        "read_schemas": [s["ReadSchema"] for s in scans],
        "wholestage": any(kind == "WholeStageCodegen" for _, kind in nodes),
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

