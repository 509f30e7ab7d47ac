"""A query runs under the runtime confs because it is registered.

The verification driver calls ``__spark_entry__.entry`` and every
``queries()[name]`` with a session it builds itself. ``registry.register``
wraps each query so that ``apply_runtime_confs`` pins UTC, ANSI off and
the rest of ``RUNTIME_CONFS`` before the body builds anything. These
tests pin that wrapper, the call-form registration of A1 that the entry
point reaches, and the registration order the driver's window reads.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from test_dataengineer2026_spark import registry
from test_dataengineer2026_spark.session import RUNTIME_CONFS

PINNED = ("spark.sql.ansi.enabled", "spark.sql.session.timeZone")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The driver order of every registered query, one name a line.
ORDER_FILE = os.path.join(ROOT, "tests", "registry_order.txt")


@pytest.fixture
def sabotaged(spark):
    """The shared session with ANSI on and a non-UTC timezone, restored
    afterwards."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        yield spark
    finally:
        for k in PINNED:
            spark.conf.set(k, RUNTIME_CONFS[k])


def test_entry_runs_under_the_runtime_confs(sabotaged):
    """``entry`` calls ``pricing_summary`` by its module-level name, so
    that name must be the registered wrapper, not the bare body."""
    import __spark_entry__

    assert __spark_entry__.entry(sabotaged).collect()
    assert {k: sabotaged.conf.get(k) for k in PINNED} == {k: RUNTIME_CONFS[k] for k in PINNED}


def test_registered_body_reads_the_pinned_confs(sabotaged, monkeypatch):
    monkeypatch.setattr(registry, "_REGISTRY", {})
    seen = {}

    @registry.register("Z1_conf_probe", oracle="SELECT 0 AS id")
    def probe(spark, sf_dir):
        """Z1: records the confs its body sees."""
        seen.update({k: spark.conf.get(k) for k in PINNED})
        return spark.range(1)

    spec = registry._REGISTRY["Z1_conf_probe"]
    assert spec.fn is probe
    assert spec.doc == "Z1: records the confs its body sees."
    assert probe.__name__ == "probe"
    probe(sabotaged, "unused")
    assert seen == {k: RUNTIME_CONFS[k] for k in PINNED}


def test_registry_order_is_unchanged():
    """The driver's order, read in a fresh interpreter as the driver reads
    it: past the DRIVER_PRIORITY names, registration order follows the
    order in which the process first imported the query modules."""
    names = subprocess.run(
        [sys.executable, "-c", "import __spark_entry__; print(*__spark_entry__.queries(), sep='\\n')"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    with open(ORDER_FILE) as f:
        expected = f.read().split()
    assert len(expected) == 266
    assert names == expected
