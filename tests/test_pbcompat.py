"""pbcompat (the M6b transformWithState protobuf shim): the sandbox has
no protobuf install, so ensure() wires in the baked Cloud SDK's
pure-Python protobuf 6.32 and relaxes the gencode version check for
same-major skew only. See pbcompat/sitecustomize.py for the worker-side
story (spark-core's JAR on worker sys.path forms a phantom namespace
google.protobuf that must not count as a runtime)."""

from __future__ import annotations

import importlib
import importlib.machinery
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from test_dataengineer2026_spark import pbcompat
from test_dataengineer2026_spark.pbcompat import daemon


def test_ensure_makes_protobuf_importable():
    assert pbcompat.ensure() is True
    import google.protobuf as gp

    # a REAL package (file-backed), not the spark-core JAR's phantom
    # namespace portion
    assert gp.__file__ is not None
    from pyspark.sql.streaming.proto import StateMessage_pb2 as sm

    req = sm.StateRequest()
    req.version = 3
    out = sm.StateRequest()
    out.ParseFromString(req.SerializeToString())
    assert out.version == 3


def test_pythonpath_exported_for_workers():
    pbcompat.ensure()
    here = os.path.dirname(os.path.abspath(pbcompat.__file__))
    assert here in os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert os.path.isfile(os.path.join(here, "sitecustomize.py"))


def test_lenient_validator_same_major_only():
    """The shim must tolerate 6.33-gencode on the 6.32 runtime but keep
    rejecting a CROSS-major skew — that one is a real wire/API break."""
    pbcompat.ensure()
    from google.protobuf import runtime_version as rv

    # same-major, newer-minor gencode: must not raise (this is exactly
    # pyspark 4.1.2's StateMessage.proto pin)
    rv.ValidateProtobufRuntimeVersion(
        rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 1, 0, "", "x.proto"
    )
    with pytest.raises(Exception):
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, rv.MAJOR + 1, 0, 0, "", "x.proto"
        )


def test_available_rejects_namespace_spec(monkeypatch):
    """The bug the Spark workers hit: find_spec returns a NAMESPACE
    spec (origin=None) for the google/protobuf resource dir inside
    spark-core's JAR. available() must not count that as a runtime."""
    ns_spec = importlib.machinery.ModuleSpec("google.protobuf", None)
    assert ns_spec.origin is None
    monkeypatch.setattr(
        pbcompat.importlib.util, "find_spec", lambda name: ns_spec
    )
    assert pbcompat.available() is False


def test_sitecustomize_in_fresh_interpreter():
    """What a Spark Python worker does at startup, end to end: a fresh
    interpreter with the pbcompat dir on PYTHONPATH must be able to
    import pyspark's TWS gencode with no in-process setup."""
    here = os.path.dirname(os.path.abspath(pbcompat.__file__))
    env = dict(os.environ)
    env["PYTHONPATH"] = here
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "from pyspark.sql.streaming.proto import StateMessage_pb2 as m; "
            "print(m.StateRequest().ByteSize())",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert r.stdout.strip() == "0"


def test_get_session_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the checkout must still run Python UDFs:
    workers unpickle them by package import path, so ``get_session``
    exports the package root to the workers' PYTHONPATH. The child gets
    no inherited PYTHONPATH, so only that export can make the import
    work."""
    from tests.conftest import SF_DIR

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from test_dataengineer2026_spark import registry;"
        "from test_dataengineer2026_spark.session import get_session;"
        "spark = get_session('cwd-probe', shuffle_partitions=2);"
        "df = registry.queries()['V5_mm_binary_features'](spark, sys.argv[2]);"
        "print('ROWS', len(df.collect()))"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, root, SF_DIR],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "ROWS " in r.stdout and "ModuleNotFoundError" not in r.stderr


@pytest.fixture
def zipimporter_restored(monkeypatch):
    """Undo ``daemon.install`` when the test ends: ``zipimporter`` gets
    its own ``invalidate_caches`` back and loses the ``_files``
    property. Importers created meanwhile keep a ``_files`` attribute,
    so the stock code can still use them."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    if "_files" not in vars(cls):
        monkeypatch.setattr(cls, "_files", None, raising=False)
        monkeypatch.delattr(cls, "_files")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_daemon_backport_imports_module_added_to_rewritten_zip(
    zipimporter_restored, monkeypatch, tmp_path
):
    """After ``invalidate_caches`` the archive's directory is only
    dropped, not re-read, and the next import reads the new one."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pbc_zip_first": "X = 1"})
    monkeypatch.syspath_prepend(archive)
    daemon.install()
    try:
        assert importlib.import_module("pbc_zip_first").X == 1
        _write_zip(archive, {"pbc_zip_first": "X = 1", "pbc_zip_added": "X = 2"})
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert importlib.import_module("pbc_zip_added").X == 2
        assert archive in zipimport._zip_directory_cache
    finally:
        sys.modules.pop("pbc_zip_first", None)
        sys.modules.pop("pbc_zip_added", None)


def test_daemon_backport_deleted_archive_finds_nothing(
    zipimporter_restored, monkeypatch, tmp_path
):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"pbc_zip_gone": "X = 1"})
    monkeypatch.syspath_prepend(str(archive))
    daemon.install()
    assert importlib.util.find_spec("pbc_zip_gone") is not None
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)
    archive.unlink()
    importlib.invalidate_caches()
    assert importer.find_spec("pbc_zip_gone") is None
    assert importlib.util.find_spec("pbc_zip_gone") is None


def test_daemon_backport_install_twice_is_harmless(
    zipimporter_restored, monkeypatch, tmp_path
):
    daemon.install()
    before = dict(vars(zipimport.zipimporter))
    daemon.install()
    assert dict(vars(zipimport.zipimporter)) == before
    archive = str(tmp_path / "twice.zip")
    _write_zip(archive, {"pbc_zip_twice": "X = 3"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pbc_zip_twice").X == 3
    finally:
        sys.modules.pop("pbc_zip_twice", None)


def test_daemon_backport_leaves_python_313_alone(zipimporter_restored, monkeypatch):
    before = dict(vars(zipimport.zipimporter))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    daemon.install()
    assert dict(vars(zipimport.zipimporter)) == before


def test_get_session_workers_invalidate_zip_caches_lazily(tmp_path):
    """Through ``get_session``'s worker daemon, a task's
    ``importlib.invalidate_caches()`` drops the ``pyspark.zip``
    directory instead of re-reading it, as Python 3.13 does. With the
    stock daemon on an older Python the call refills the cache at
    once."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from test_dataengineer2026_spark.session import get_session\n"
        "def probe(_):\n"
        "    import importlib, sys, zipimport\n"
        "    zips = [p for p in sys.path if p.endswith('pyspark.zip')]\n"
        "    importlib.invalidate_caches()\n"
        "    yield zips, [z for z in zips if z in zipimport._zip_directory_cache]\n"
        "spark = get_session('zip-probe', shuffle_partitions=2)\n"
        "for zips, cached in spark.sparkContext.parallelize(range(2), 2)"
        ".mapPartitions(probe).collect():\n"
        "    print('ZIPS', len(zips), 'CACHED', len(cached))"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, root],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("ZIPS")]
    assert lines == ["ZIPS 1 CACHED 0"] * 2, r.stdout[-1500:]


def test_compile_policy_only_when_tasks_leave_half_the_cores():
    from test_dataengineer2026_spark.session import C2_COMPILE_POLICY, compile_policy

    assert compile_policy(2, 4) == compile_policy(1, 3) == C2_COMPILE_POLICY
    assert compile_policy(4, 4) == compile_policy(3, 4) == compile_policy(1, 1) == ()


def test_get_session_starts_jvm_with_compile_policy_and_warm_workers(tmp_path):
    """``get_session`` launches the driver JVM of a session on half the
    cores with its C2 compile policy ahead of the caller's own
    ``extraJavaOptions``, which still reach the JVM and override a
    policy flag they repeat, and its Python workers fork with pyarrow
    already imported. One JVM for all three, started outside the
    checkout with no inherited PYTHONPATH."""
    from test_dataengineer2026_spark.session import C2_COMPILE_POLICY, host_cores

    if host_cores() < 2:
        pytest.skip("one core: no session runs on half of them")
    policy = dict(f.removeprefix("-XX:").split("=") for f in C2_COMPILE_POLICY)
    caller = [f"-Djava.io.tmpdir={tmp_path}", "-XX:Tier4BackEdgeThreshold=123456"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_CPUS"] = "1"
    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1]);"
        "from test_dataengineer2026_spark.session import get_session\n"
        "def probe(_):\n"
        "    import sys\n"
        "    yield 'pyarrow' in sys.modules\n"
        "spark = get_session('jvm-probe', shuffle_partitions=2,"
        " extra_conf={'spark.driver.extraJavaOptions': sys.argv[2]})\n"
        "jvm = spark._jvm\n"
        "mx = jvm.java.lang.management.ManagementFactory\n"
        "hs = mx.getPlatformMXBean(jvm.java.lang.Class.forName("
        "'com.sun.management.HotSpotDiagnosticMXBean'))\n"
        "print('PROBE', json.dumps({\n"
        "    'vm': {k: hs.getVMOption(k).getValue() for k in"
        " ('Tier4InvocationThreshold', 'Tier4BackEdgeThreshold')},\n"
        "    'tmpdir': jvm.java.lang.System.getProperty('java.io.tmpdir'),\n"
        "    'args': list(mx.getRuntimeMXBean().getInputArguments()),\n"
        "    'pyarrow': spark.sparkContext.parallelize(range(2), 2)"
        ".mapPartitions(probe).collect(),\n"
        "}))"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, root, " ".join(caller)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("PROBE ")]
    assert len(lines) == 1, r.stdout[-1500:]
    out = json.loads(lines[0].removeprefix("PROBE "))
    assert out["vm"]["Tier4InvocationThreshold"] == policy["Tier4InvocationThreshold"]
    # The caller's flags reach the JVM after the policy's, so the one
    # they repeat takes the caller's value.
    ours = [a for a in out["args"] if a in C2_COMPILE_POLICY or a in caller]
    assert (ours, out["vm"]["Tier4BackEdgeThreshold"], out["tmpdir"]) == (
        [*C2_COMPILE_POLICY, *caller],
        "123456",
        str(tmp_path),
    ), out["args"]
    assert out["pyarrow"] == [True, True]
