"""Structured Streaming jobs over the events surface (M1-M9).

Design (SURVEY.md §3.3): the same logical transformations serve batch
and stream; here the batch parquet table is re-fed through a file
stream source so every windowed/stateful operator genuinely executes in
the streaming engine (micro-batches, state store, output modes), while
staying deterministic for the harness:

* file source + ``availableNow`` trigger = bounded, synchronous run
  (M9 trigger control);
* ``complete``/``update`` output modes make results independent of the
  batch split, so the DuckDB oracle can recompute them as batch SQL;
* watermark + append-mode late-data semantics (M1/M8) depend on batch
  boundaries by design — they are exercised in tests/test_streaming.py
  with a controlled two-file split, not in the oracle-checked queries.

At scale the file source swaps for Kafka/object-store listing with the
same plan; state stores shard by the groupBy key across executors.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.staging import TMP_ROOT, stage_tag

EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, "
    "props string"
)

_STAGE_ROOT = os.path.join(TMP_ROOT, "stream_stage")


def _stage_dir(sf_dir: str, suffix: str) -> str:
    """The stage directory of one feed of ``sf_dir``:
    ``<staging.stage_tag(sf_dir)><suffix>``."""
    return os.path.join(_STAGE_ROOT, stage_tag(sf_dir) + suffix)


def _events_leaves(src: str) -> dict[str, str]:
    """stage-relative name -> absolute path for every leaf parquet under
    the events source. Handles all three fixture layouts: a single file
    (the driver's), a flat directory of part files (the r11 multi-file
    probe; keeps that round's ``events_<part>`` naming so existing
    stages stay current), and a Hive-partitioned directory of key=value
    subdirectories (the r12 probe — every 100 TB lake table). For the
    Hive case the RELATIVE path is preserved so the staged feed keeps
    the key=value structure and the file stream source can reconstruct
    the partition column the data files omit."""
    if not os.path.isdir(src):
        return {"events.parquet": src}
    out: dict[str, str] = {}
    for root, _dirs, files in os.walk(src):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, f), src)
            key = f"events_{f}" if os.sep not in rel else rel
            out[key] = os.path.join(root, f)
    return out


def _source_fingerprint(sf_dir: str) -> str:
    """mtime+size of the source events parquet — staged feeds cache across
    runs, but the harness regenerates testdata between rounds; a stale
    staged copy would silently diverge from the oracle's fresh view.
    The source may be a single file (the driver's layout) or a directory
    of part files — flat or Hive-partitioned (any real-scale layout);
    fingerprint every leaf so adding/removing/rewriting one invalidates
    the stage."""
    src = tables.table_path(sf_dir, "events")
    if os.path.isdir(src):
        leaves = _events_leaves(src)
        return ";".join(
            f"{k}:{st.st_mtime_ns}:{st.st_size}"
            for k in sorted(leaves)
            for st in (os.stat(leaves[k]),)
        )
    st = os.stat(src)
    return f"{st.st_mtime_ns}:{st.st_size}"


def _stage_marker(done_marker: str, sf_dir: str) -> str:
    """What a stage's ``_STAGED``/``_DONE`` marker holds: the stage's own
    absolute directory and the source fingerprint. The directory is
    there because a stage may hold absolute paths into itself (the
    resume stage's file-sink log does): a checkout moved together with
    its ``.tmp/`` keeps the fingerprint, but its stages must restage."""
    stage = os.path.dirname(os.path.abspath(done_marker))
    return f"{stage}\n{_source_fingerprint(sf_dir)}"


def _stage_is_current(done_marker: str, sf_dir: str) -> bool:
    try:
        with open(done_marker) as f:
            return f.read() == _stage_marker(done_marker, sf_dir)
    except OSError:
        return False


def _mark_stage_done(done_marker: str, sf_dir: str) -> None:
    with open(done_marker, "w") as f:
        f.write(_stage_marker(done_marker, sf_dir))


def stage_events_dir(sf_dir: str) -> str:
    """File stream sources need a directory of LEAF files; stage the
    events parquet into one (symlinks, no copy).

    The source may be a single file (the driver's fixture layout) or a
    directory of part files (any real-scale layout — the round-11
    multi-file probe caught the single-file assumption: a symlink to a
    directory nests it under the stage, the file source lists no leaf
    files, and every stream query dies with UNABLE_TO_INFER_SCHEMA).
    Each part file is linked individually, and stale links from a prior
    layout, a removed part, or a retargeted source are dropped first so
    a leftover symlink can't poison this sf_dir's stream. A relative
    ``sf_dir`` is resolved first: the links must not point back
    relative to the stage."""
    sf_dir = os.path.abspath(sf_dir)
    d = _stage_dir(sf_dir, "")
    os.makedirs(d, exist_ok=True)
    src = tables.table_path(sf_dir, "events")
    targets = _events_leaves(src)
    # GC stale links anywhere under the stage (a prior layout, a removed
    # part, or a retargeted source), then drop subdirectories emptied by
    # the GC — a leftover key=value dir from a prior Hive source would
    # otherwise make Spark infer a phantom partition column.
    for root, dirs, files in os.walk(d, topdown=False):
        for name in files:
            p = os.path.join(root, name)
            if not os.path.islink(p):
                continue
            want = targets.get(os.path.relpath(p, d))
            if want is None or os.path.realpath(p) != os.path.realpath(want):
                os.remove(p)
        for name in dirs:
            p = os.path.join(root, name)
            if os.path.islink(p):
                # a symlink that now resolves to a DIRECTORY (os.walk
                # classes it under dirs): staging only ever links leaf
                # FILES, so it is stale by construction — e.g. the
                # source flipped from a single file to a directory at
                # the same path and the old link silently retargeted
                os.remove(p)
            elif not os.listdir(p):
                os.rmdir(p)
    for name, target in targets.items():
        link = os.path.join(d, name)
        os.makedirs(os.path.dirname(link), exist_ok=True)
        if os.path.islink(link):
            continue  # GC above already verified it points at `target`
        if os.path.exists(link):
            # A REGULAR file or directory squatting on the link path
            # (e.g. a stage dir polluted by a crashed foreign writer):
            # the GC only removes symlinks, so clear the blocker here
            # or os.symlink raises FileExistsError forever after
            # (r12 advisor finding).
            if os.path.isdir(link):
                shutil.rmtree(link)
            else:
                os.remove(link)
        os.symlink(target, link)
    return d


#: Fixed day-boundary splits of the "multi" and "late" feeds (events span
#: 2024-01; boundaries chosen so every split is non-empty at any sf).
SPLIT_BOUNDS = ("2024-01-11", "2024-01-21")


def _by_day(ev: DataFrame) -> list[DataFrame]:
    """Events before, between and after the two ``SPLIT_BOUNDS``."""
    lo, hi = SPLIT_BOUNDS
    return [
        ev.filter(F.col("ts") < lo),
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
        ev.filter(F.col("ts") >= hi),
    ]


#: The split feeds: feed name -> rule turning the events table into the
#: frames the feed delivers, in delivery order (one file each).
_SPLIT_FEEDS: dict[str, Callable[[DataFrame], list[DataFrame]]] = {
    # three day ranges landing oldest first: files arriving over time in
    # an object-store prefix (TEST.md:65's 10k-PDF feed)
    "multi": _by_day,
    # the same ranges newest first. Stateful operators filter late input
    # with the watermark committed as of the PREVIOUS micro-batch, so the
    # drop shows from the third batch on: batch 0 advances event time,
    # batch 1 commits the watermark, batch 2's rows are all older than it
    "late": lambda ev: _by_day(ev)[::-1],
    # the full table, then a re-delivery of every 5th event (exact
    # duplicate rows, same event time): the at-least-once shape
    # (connector retries, replayed offsets) streaming dedup absorbs
    "dups": lambda ev: [ev, ev.filter(F.col("event_id") % 5 == 0)],
}


def stage_split_feed(spark: SparkSession, sf_dir: str, feed: str) -> str:
    """Stage the split feed ``feed`` (a key of ``_SPLIT_FEEDS``) of
    ``sf_dir``'s events: one parquet file per split, named
    ``00-events.parquet``, ``01-...`` in delivery order, with strictly
    increasing mtimes so the file stream source picks them up in that
    order. ``ts`` is written back as long nanos, the staged schema
    ``read_staged_stream`` reads. A stage whose marker matches the
    source fingerprint is reused as it is."""
    sf_dir = os.path.abspath(sf_dir)
    split = _SPLIT_FEEDS[feed]
    d = _stage_dir(sf_dir, "_" + feed)
    done = os.path.join(d, "_STAGED")
    if _stage_is_current(done, sf_dir):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    base = 1_700_000_000
    for i, part in enumerate(split(tables.load(spark, sf_dir, "events"))):
        tmp = os.path.join(d, f"_tmp{i}")
        part.withColumn(
            "ts", (F.unix_micros("ts") * 1000).cast("long")
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(d, f"{i:02d}-events.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + i * 100, base + i * 100))
    _mark_stage_done(done, sf_dir)
    return d


def read_staged_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Streaming scan of a staged directory, ``files_per_trigger`` files
    per micro-batch, oldest mtime first."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("latestFirst", "false")
        .parquet(staged_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of events with the same timestamp handling as the
    batch loader (tables.load).

    The harness has shipped events.ts both as TIMESTAMP(NANOS) (which
    Spark's vectorized reader only accepts as raw long nanos) and as
    TIMESTAMP(MICROS); probe the batch footer and branch, instead of
    hard-coding one physical type and silently corrupting the other
    (a long-schema read of a MICROS column followed by ``div 1000``
    shrinks every timestamp 1000x)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    d = stage_events_dir(sf_dir)
    # Per-session memo of the footer probe, which EVERY streaming query
    # would otherwise pay per build. Staged files are symlinks into an
    # immutable sf_dir (same contract as tables.load's memo, and dropped
    # with it by tables.clear_cache), so the probed schema cannot change
    # until then. The single-file stage's footer is read on the driver;
    # a multi-file stage falls back to an inferring read (one job).
    cache: dict[str, object] | None = getattr(spark, "_graft_stream_schema", None)
    if cache is None:
        cache = {}
        spark._graft_stream_schema = cache
    schema = cache.get(d)
    if schema is None:
        schema = tables.parquet_schema(spark, d) or spark.read.parquet(d).schema
        if "ts" in schema.names and schema["ts"].dataType == LongType():
            schema = "nanos"
        cache[d] = schema
    if schema == "nanos":
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(d)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return spark.readStream.schema(schema).parquet(d)


class MetricsListener:
    """StreamingQueryListener capturing per-batch progress for the
    observability surface (M12) and the query profiler: input row
    counts, the ``durationMs`` phase breakdown, state-operator metrics
    (watermark drops, rows, commit/update/removal times, memory), and
    ``df.observe`` metrics. It also records the run id of every query
    it saw start, which is the job group Spark runs that stream's jobs
    under. Listener callbacks run on the engine's listener-bus thread,
    so completion is signalled via the terminated events and awaited
    with a bounded spin-wait, never assumed."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                state_ops = [
                    {
                        "op": op.operatorName,
                        "rows_total": op.numRowsTotal,
                        "rows_updated": op.numRowsUpdated,
                        "rows_removed": op.numRowsRemoved,
                        "dropped_by_watermark": op.numRowsDroppedByWatermark,
                        "commit_ms": op.commitTimeMs,
                        "updates_ms": op.allUpdatesTimeMs,
                        "removals_ms": op.allRemovalsTimeMs,
                        "mem_bytes": op.memoryUsedBytes,
                    }
                    for op in p.stateOperators
                ]
                observed = {
                    name: row.asDict()
                    for name, row in (p.observedMetrics or {}).items()
                }
                outer.progress.append(
                    {
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "dropped_by_watermark": sum(
                            op["dropped_by_watermark"] for op in state_ops
                        ),
                        "duration_ms": dict(p.durationMs),
                        "state_ops": state_ops,
                        "observed": observed,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self.terminated = 0
        self._listener = _L()

    def attach(self, spark: SparkSession) -> None:
        spark.streams.addListener(self._listener)

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)

    def await_terminated(self, timeout_sec: float = 60.0) -> None:
        """Wait until every query seen to start (at least one) has
        delivered its terminated event. Spark posts a query's progress
        events before its terminated event, so after this returns
        ``progress`` holds every batch of those queries."""
        import time

        t0 = time.monotonic()
        while self.terminated < max(1, len(self.run_ids)):
            if time.monotonic() - t0 > timeout_sec:
                raise TimeoutError(
                    "streaming listener never saw query termination"
                )
            time.sleep(0.1)


#: State-partition sizing policy (guide §5, r18 verdict #1): the fixed
#: per-batch cost of a stateful operator is state-store MACHINERY —
#: store load + delta commit + maintenance per partition per state store
#: per micro-batch — while the useful work scales with keyed-state
#: bytes. Partition count must therefore track estimated state volume,
#: never the local core count: ceil(feed_bytes x expansion / target
#: bytes per partition). At sandbox SFs (feeds of a few MB) that is 1-2
#: partitions, eliminating ~97% of the store machinery; at a 100 TB
#: feed the same formula yields thousands of partitions, each holding
#: ~STATE_TARGET_BYTES of state (the documented RocksDB/HDFS-store
#: sweet spot range).
STATE_TARGET_BYTES = 64 << 20
#: parquet (zstd/snappy, columnar) -> in-store row bytes expansion; the
#: conservative side (over-estimating state) only adds partitions.
STATE_EXPANSION = 4.0


def stateful_shuffle_partitions(staged: str) -> int:
    """Partition count for a stateful stream over the staged feed at
    ``staged`` (a directory of parquet leaves / symlinks). Uses on-disk
    feed bytes as the state-volume proxy — an over-estimate for
    watermark-bounded state (eviction keeps live state below total
    feed), which errs toward more partitions, never fewer.

    Checkpoint compatibility: Spark records the shuffle-partition count
    in the checkpoint's offset metadata at batch 0 and REUSES the
    recorded value on every restart regardless of the session conf
    (pinned in tests/test_streaming.py::
    test_state_partition_policy_checkpoint_restore), so resizing the
    session default can never corrupt an existing stateful checkpoint.
    """
    total = 0
    for root, _dirs, files in os.walk(staged):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.stat(os.path.join(root, f)).st_size
                except OSError:
                    pass
    est_state = total * STATE_EXPANSION
    return max(1, -(-int(est_state) // STATE_TARGET_BYTES))


@contextlib.contextmanager
def _pinned_confs(
    stream_df: DataFrame,
    runner: str,
    confs: dict[str, str],
    shuffle_partitions: int | None,
) -> Iterator[SparkSession]:
    """Set ``confs`` (and ``spark.sql.shuffle.partitions`` when
    ``shuffle_partitions`` is given) on the stream's session for one
    bounded run, and restore each old value (or unset it) on the way
    out, whether the run succeeds or fails. The confs are session-wide,
    so a run that would overlap an active stream raises, naming
    ``runner``, instead of clobbering that stream's confs."""
    spark = stream_df.sparkSession
    active = spark.streams.active
    if active:
        raise RuntimeError(
            f"{runner} mutates session-wide streaming confs and must not run "
            f"concurrently with active streams: {[q.name for q in active]}"
        )
    if shuffle_partitions is not None:
        confs = {**confs, "spark.sql.shuffle.partitions": str(shuffle_partitions)}
    restore = [(key, spark.conf.get(key, None)) for key in confs]
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield spark
    finally:
        for key, old in reversed(restore):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def _start_to_memory(stream_df: DataFrame, name: str, output_mode: str):
    """Start ``stream_df`` into the memory sink ``name`` as a bounded
    availableNow run."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    final_no_data_batch: bool = True,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run a bounded streaming query into a memory sink and return the
    materialized result table.

    ``final_no_data_batch=False`` skips the trailing empty micro-batch
    availableNow otherwise schedules after the last data batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``). That batch
    exists to advance the watermark so APPEND-mode windows finalize and
    event-time TIMERS fire — callers in those families must keep it.
    For complete-mode aggregations (state re-emitted wholesale every
    batch) and arrival-emitting append dedup it re-runs the full
    state-store pass to emit literally the same table again: measured
    ~40% of M4's wall at sf0.1 (r18, guide §1 measure-first).

    ``shuffle_partitions`` (normally ``stateful_shuffle_partitions(...)``)
    pins the state-partition count for THIS bounded run — state sharding
    is by key hash, so the result set is partition-count-independent;
    only the per-batch store-machinery cost changes.

    Both confs are session-level; ``_pinned_confs`` sets them just
    before start, restores them after termination, and refuses to run
    beside an active stream, whose confs it would clobber.
    """
    confs = {}
    if not final_no_data_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    with _pinned_confs(stream_df, "run_to_memory", confs, shuffle_partitions) as spark:
        _start_to_memory(stream_df, name, output_mode).awaitTermination()
    return spark.table(name)


def run_to_memory_until(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    expected_rows: int,
    timeout_s: float = 300.0,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming query into a memory sink until the sink holds
    ``expected_rows`` rows, then stop it and return the table.

    Exists for queries availableNow cannot self-terminate: with
    timeMode="processingTime" a transformWithState query stays active
    after its timers fire (probed r18: rows emitted, isActive still
    True after 180 s) — wall-clock timers imply potential future work,
    so Spark never reports the stream done. The caller knows the exact
    output cardinality (one flush row per key), which is a stronger
    stop condition than any idle heuristic. Raises on deadline so a
    wedged stream fails loudly instead of returning a partial table.

    ``shuffle_partitions`` pins the state-partition count exactly as in
    ``run_to_memory`` (set before start, restored after the stream
    stops — the count is captured into the checkpoint at batch 0)."""
    import time

    with _pinned_confs(stream_df, "run_to_memory_until", {}, shuffle_partitions) as spark:
        q = _start_to_memory(stream_df, name, output_mode)
        try:
            deadline = time.time() + timeout_s
            while spark.table(name).count() < expected_rows:
                if q.awaitTermination(0.5):
                    break  # terminated on its own: sink is final
                if time.time() > deadline:
                    raise TimeoutError(
                        f"stream {name!r}: sink stuck at "
                        f"{spark.table(name).count()}/{expected_rows} rows "
                        f"after {timeout_s}s"
                    )
        finally:
            if q.isActive:
                q.stop()
    return spark.table(name)


def stage_events_resume(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Staging layout for the checkpoint-resume exhibit (M15): a feed
    directory that starts with the first TWO splits of the ``"multi"``
    feed, the third split parked outside it (the caller lands it
    between runs via ``land_pending_file``), plus per-source checkpoint
    and sink directories. Everything is keyed to the source parquet's
    fingerprint, so a regenerated testdata round restages from scratch
    while repeat calls within a round reuse the committed sink
    (idempotent, like every other staged feed)."""
    multi = stage_split_feed(spark, sf_dir, "multi")
    root = _stage_dir(sf_dir, "_resume")
    feed = os.path.join(root, "feed")
    layout = {
        "feed": feed,
        "pending_src": os.path.join(multi, "02-events.parquet"),
        "pending_dst": os.path.join(feed, "02-events.parquet"),
        "ckpt": os.path.join(root, "ckpt"),
        "sink": os.path.join(root, "sink"),
        "done": os.path.join(root, "_DONE"),
    }
    if _stage_is_current(layout["done"], sf_dir):
        return layout
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(feed, exist_ok=True)
    for i in (0, 1):
        name = f"{i:02d}-events.parquet"
        shutil.copy2(os.path.join(multi, name), os.path.join(feed, name))
    return layout


def land_pending_file(layout: dict[str, str]) -> None:
    """Deliver the parked third split into the feed with an mtime newer
    than every file already there (the object-store 'new file landed'
    moment between the two runs)."""
    shutil.copy2(layout["pending_src"], layout["pending_dst"])
    newest = max(
        os.stat(os.path.join(layout["feed"], f)).st_mtime
        for f in os.listdir(layout["feed"])
        if f != "02-events.parquet"
    )
    os.utime(layout["pending_dst"], (newest + 100, newest + 100))


def mark_resume_done(layout: dict[str, str], sf_dir: str) -> None:
    _mark_stage_done(layout["done"], sf_dir)
