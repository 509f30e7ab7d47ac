"""Runtime setup for the transformWithState protobuf dependency (M6b).

See sitecustomize.py in this directory for the full story: pyspark's
transformWithState Python surface needs a protobuf runtime; this
sandbox has none installed, but the baked Google Cloud SDK carries a
plain-namespace pure-Python protobuf 6.32.0 that parses pyspark's
6.33-gencode with a same-major leniency shim.

``ensure()`` wires that up for every interpreter involved:

1. this process — sys.path + validator shim, applied directly;
2. interpreters the JVM will spawn (TWS driver worker, executor state
   clients) — this directory is prepended to ``PYTHONPATH`` so its
   ``sitecustomize`` runs at their startup (the shim then chain-loads
   the next ``sitecustomize`` on sys.path, so a real system hook it
   would otherwise shadow still executes); the env var is exported
   both before a JVM exists (inherited at launch) and into a live
   SparkContext's ``environment`` (merged into worker env by Spark's
   PythonWorkerFactory), so call order vs session creation never
   matters.

Returns True iff a usable protobuf runtime is importable afterwards.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))


def available() -> bool:
    """A protobuf runtime is importable (real install or shimmed SDK
    copy) — the precondition for any transformWithState query."""
    try:
        # find_spec raises (not returns None) when even the parent
        # "google" package is absent; and a spec without an origin is
        # a phantom NAMESPACE package (e.g. the google/protobuf/*.proto
        # resource dir inside spark-core's JAR when the JAR is on
        # sys.path, as it is in Spark's Python workers) — not a runtime.
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:
        return False
    return spec is not None and spec.origin is not None


def export_pythonpath(path: str, spark=None) -> None:
    """Prepend ``path`` to ``PYTHONPATH`` for interpreters this process
    or its JVM starts later, and, given a live session, for the Python
    workers of that SparkContext. Idempotent."""
    prev = os.environ.get("PYTHONPATH", "")
    if path not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = path + (os.pathsep + prev if prev else "")
    if spark is not None:
        # sc.environment is checked and set INDEPENDENTLY of
        # os.environ: a JVM launched before the os.environ export never
        # saw it, and defaulting the worker-env read to the (by now
        # updated) process env would make the `in` check trivially true
        # and silently skip the one channel that reaches a live
        # context's Python workers (r15 review finding).
        env = spark.sparkContext.environment
        wprev = env.get("PYTHONPATH", "")
        if path not in (wprev or "").split(os.pathsep):
            env["PYTHONPATH"] = path + (os.pathsep + wprev if wprev else "")


def ensure(spark=None) -> bool:
    """Make protobuf importable here and in Spark's Python workers.
    Idempotent; safe to call with or without a live session."""
    sc_path = os.path.join(_HERE, "sitecustomize.py")
    if os.path.isfile(sc_path):
        # Same code path the workers take, applied to THIS interpreter.
        import runpy

        try:
            runpy.run_path(sc_path)
        except Exception:
            pass
    export_pythonpath(_HERE, spark)
    return available()
