"""Staging-dir hygiene (test_dataengineer2026_spark/staging.py).

The r16 advisor found the age-based prune ran BEFORE the own-pid check,
so a process alive longer than MAX_STAGE_AGE_SEC could delete its own
still-registered staging dir (and a live sibling's) mid-use. Pin the
fixed precedence: own pid > proven-live sibling > proven-dead sibling >
age fallback (inconclusive probe / no pid only).
"""

from __future__ import annotations

import os
import subprocess
import time

from test_dataengineer2026_spark import staging


def _mkold(root, name, age_sec):
    d = root / name
    d.mkdir(parents=True)
    old = time.time() - age_sec
    os.utime(d, (old, old))
    return d


def test_own_dir_survives_age_prune(tmp_path):
    """A session alive longer than a day must NOT lose its own staged
    store to the age fallback (the r16 advisor's failure mode)."""
    own = _mkold(tmp_path, f"abcdef1234-{os.getpid()}", staging.MAX_STAGE_AGE_SEC + 3600)
    staging._prune_siblings(str(tmp_path))
    assert own.exists()


def test_live_sibling_survives_age_prune(tmp_path):
    """A sibling whose pid probe SUCCEEDS is alive — age never
    overrides a conclusive liveness answer. pid 1 is always alive (and
    kill(1, 0) succeeds for root, which this sandbox runs as)."""
    os.kill(1, 0)  # precondition: probe is conclusive here
    live = _mkold(tmp_path, "abcdef1234-1", staging.MAX_STAGE_AGE_SEC + 3600)
    staging._prune_siblings(str(tmp_path))
    assert live.exists()


def test_dead_sibling_pruned_regardless_of_age(tmp_path):
    p = subprocess.Popen(["true"])
    p.wait()
    dead = _mkold(tmp_path, f"abcdef1234-{p.pid}", 10)  # fresh, but owner dead
    staging._prune_siblings(str(tmp_path))
    assert not dead.exists()


def test_foreign_names_never_pruned(tmp_path):
    """r17 advisor: dirs that don't match our <hex10>-<pid> naming were
    parked under .tmp/<kind>/ by someone else — the hygiene pass must
    never delete them, no matter how old."""
    fresh = _mkold(tmp_path, "no-pid-here", 10)
    stale = _mkold(tmp_path, "also-no-pid", staging.MAX_STAGE_AGE_SEC + 3600)
    near_miss = _mkold(  # hex prefix wrong length: still foreign
        tmp_path, "abcdef12345-99999", staging.MAX_STAGE_AGE_SEC + 3600
    )
    staging._prune_siblings(str(tmp_path))
    assert fresh.exists()
    assert stale.exists()
    assert near_miss.exists()


def test_age_fallback_only_for_inconclusive_probe(tmp_path, monkeypatch):
    """A staging-named sibling whose pid probe is INCONCLUSIVE
    (PermissionError: pid recycled by another user) falls to the age
    rule: fresh kept, day-old pruned."""

    def _deny(pid, sig):
        raise PermissionError

    monkeypatch.setattr(staging.os, "kill", _deny)
    fresh = _mkold(tmp_path, "abcdef1234-424242", 10)
    stale = _mkold(tmp_path, "abcdef1234-424243", staging.MAX_STAGE_AGE_SEC + 3600)
    staging._prune_siblings(str(tmp_path))
    assert fresh.exists()
    assert not stale.exists()


def test_stage_tag_resolves_a_relative_sf_dir(tmp_path, monkeypatch):
    """One relative sf_dir used from two working directories names two
    sf_dirs, so it gets two tags; an absolute path keeps its tag."""
    for d in ("one", "two"):
        (tmp_path / d).mkdir()
    monkeypatch.chdir(tmp_path / "one")
    one = staging.stage_tag("sf")
    monkeypatch.chdir(tmp_path / "two")
    two = staging.stage_tag("sf")
    assert one != two
    assert one == staging.stage_tag(str(tmp_path / "one" / "sf"))
    flat = str(tmp_path / "one" / "sf").strip("/").replace("/", "_")
    assert one.startswith(flat + "-")


def test_sink_stages_of_alike_flattening_sf_dirs_do_not_collide():
    """``/x/a_b`` and ``/x/a/b`` flatten alike; the S-, N- and MM3 sink
    round-trips must still write them to two stage directories."""
    assert staging.staged_dir("/x/a_b", "sink_stage") != staging.staged_dir("/x/a/b", "sink_stage")


def _tree(root):
    return {
        (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(root)
        for f in files
    }


def test_sink_round_trip_writes_to_this_process_stage(spark):
    """S1's store lies in this process's ``sink_stage`` (pruned and reaped
    with it), and nothing is written under the shared, never-removed
    ``.tmp/sink_stage/<stage_tag>`` that another process may be reading."""
    from test_dataengineer2026_spark import registry
    from tests.conftest import SF_DIR

    own = staging.staged_dir(SF_DIR, "sink_stage")
    shared = os.path.join(os.path.dirname(own), staging.stage_tag(SF_DIR))
    before = _tree(shared)
    rows = registry.all_specs()["S1_binary_file_scan"].fn(spark, SF_DIR).collect()
    assert rows[0]["n_files"] == 1
    assert os.path.isdir(os.path.join(own, "docs_text_bin"))
    assert _tree(shared) == before
