"""Per-process staging directories for queries that must materialize an
intermediate store (F9d's VARIANT parquet, S18's PDF corpus, the S-, N-
and MM3 sink round-trips under ``sink_stage``).

Why this exists: some exhibits are round-trips by design — the query
WRITES a store and reads it back, proving the format survives. The
returned DataFrames read the staged store LAZILY (the caller collects
after the query function returns), so the writing process cannot clean
its own directory inline; and a concurrent replay/bench pair must never
overwrite each other's staged files mid-scan. The contract here:

* path = ``<repo>/.tmp/<kind>/<md5(sf_dir)[:10]>-<pid>`` — the hash
  disambiguates sf paths the old flattening collided (``/a/b_c`` vs
  ``/a/b/c``), the pid isolates concurrent processes;
* ONLY sibling dirs matching our own ``<hex10>-<pid>`` naming are ever
  pruned — anything else under ``.tmp/<kind>/`` is foreign and untouched.
  A matching sibling is pruned when its owner is DEAD (``os.kill(pid,
  0)``); the age fallback (older than a day) applies ONLY when the pid
  probe is inconclusive (recycled pid owned by another user) — it exists
  because a recycled pid can belong to an unrelated live process
  forever, and no legitimate staged store survives a day (the writing
  query reads it within minutes). The current process's own dir and any
  provably-live sibling are never age-pruned;
* an ``atexit`` reaper removes the current process's own dir at
  interpreter exit, by which time every lazy read has been collected.

At 100 TB none of this machinery exists — staged stores live in the
lake with real lifecycle policies; this is sandbox hygiene only.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import time

#: Exactly the names staged_dir() mints — md5-prefix, dash, pid. Foreign
#: dirs under .tmp/<kind>/ never match and are never pruned.
_STAGE_NAME_RE = re.compile(r"[0-9a-f]{10}-[0-9]+")

#: The repo-local scratch root every stage lives under: the per-process
#: ``staged_dir`` stores here and the reusable stream feeds of
#: ``streaming/jobs.py``.
TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

#: Dirs this process has registered an atexit reaper for — guards
#: against stacking one atexit entry per query call.
_DIRS_TO_REAP: set[str] = set()

#: Age beyond which a sibling staging dir is stale regardless of pid
#: liveness (see module docstring).
MAX_STAGE_AGE_SEC = 24 * 3600


def _prune_siblings(root: str) -> None:
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return
    for d in entries:
        sib = os.path.join(root, d)
        # Own-pid check FIRST (r16 advisor): the age fallback must never
        # fire on the current process's dir — a session alive longer
        # than MAX_STAGE_AGE_SEC would otherwise delete its own
        # still-registered staging dir mid-use. A provably-live sibling
        # (kill(pid, 0) succeeds) is likewise exempt from the age rule;
        # age only breaks the tie when the pid probe is inconclusive
        # (recycled pid owned by another user → PermissionError) or the
        # name carries no pid at all.
        # Only dirs WE created (hex10-pid naming) are ever touched: the
        # hygiene pass must never rmtree something a user or another
        # tool parked under .tmp/<kind>/ (r17 advisor — the age
        # fallback previously applied to any name without a pid
        # suffix, widening the delete surface beyond our own stores).
        if not _STAGE_NAME_RE.fullmatch(d):
            continue
        pid = int(d.rsplit("-", 1)[-1])
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
            continue  # provably live (ours or another proc): never pruned
        except ProcessLookupError:
            shutil.rmtree(sib, ignore_errors=True)
            continue
        except PermissionError:
            pass  # inconclusive: alive but owned elsewhere, or recycled
        try:
            if time.time() - os.path.getmtime(sib) > MAX_STAGE_AGE_SEC:
                shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            pass


def stage_tag(sf_dir: str) -> str:
    """The name that keys the reusable stream-feed stages of ``sf_dir``
    (``streaming/jobs.py``): ``<absolute sf_dir with "/" ->
    "_">-<md5[:10]>``. The path is made absolute first, so one relative
    ``sf_dir`` used from two working directories gets two stages. The
    readable prefix lets a caller glob every stage of one ``sf_dir``;
    the hash keeps apart paths that flatten alike (``/x/a_b`` and
    ``/x/a/b``)."""
    sf_dir = os.path.abspath(sf_dir)
    flat = sf_dir.strip("/").replace("/", "_")
    return f"{flat}-{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"


def staged_dir(sf_dir: str, kind: str) -> str:
    """A private staging directory for (``sf_dir``, this process) under
    ``<repo>/.tmp/<kind>/``, pruning dead/stale siblings and arming the
    atexit reaper for our own dir. The dir itself is NOT created — the
    writer (Spark, or a data source's commit) owns creation."""
    root = os.path.join(TMP_ROOT, kind)
    _prune_siblings(root)
    own = os.path.join(root, f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}-{os.getpid()}")
    if own not in _DIRS_TO_REAP:
        _DIRS_TO_REAP.add(own)
        atexit.register(shutil.rmtree, own, ignore_errors=True)
    return own
