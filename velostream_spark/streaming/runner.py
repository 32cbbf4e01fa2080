"""Run-to-completion helpers: execute a streaming plan over the (bounded)
test data with the ``availableNow`` trigger and hand back the sink contents
as a DataFrame.

This is the Spark analog of the reference's bounded-source execution path
(velo-sql-batch / engine.rs:1242 ``flush_windows`` on source end): process
everything currently available as a sequence of micro-batches, advance the
watermark, flush what closes, stop.

Append-mode runs go through a parquet *file* sink (a distributed write —
the production-faithful path; the driver never holds the result set) and
the sink directory is handed back as a DataFrame. Update/complete modes
(changelog semantics the file sink can't express) use the memory sink —
their outputs are small aggregates by construction.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import logging
import math
import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

_COUNTER = itertools.count()

#: Size-adaptive shuffle/state partitioning for BOUNDED runs (guide §2:
#: derive partitioning from input size, never a constant). Structured
#: Streaming fixes its state-store partition count to
#: spark.sql.shuffle.partitions at query start and AQE cannot coalesce it
#: afterwards, so a small bounded stream otherwise pays one state-store
#: instance (delta-file commit per micro-batch, maintenance thread) per
#: session shuffle partition — measured 1.18 s vs 0.71 s for an identical
#: dropDuplicates job at 32 vs 8 partitions on this host. The partition
#: count here is ceil(source_bytes / target), CLAMPED ABOVE at the
#: session's own shuffle-partition setting: a corpus-scale input always
#: yields >= the configured parallelism, so cluster behavior is the
#: session default, unchanged — only small bounded runs stop paying for
#: empty state stores. Override the target via
#: $VS_STREAM_TARGET_PART_BYTES (bytes; "-1" disables the sizing).
_TARGET_PART_BYTES = int(
    os.environ.get("VS_STREAM_TARGET_PART_BYTES", str(4 * 1024 * 1024))
)

def _stream_input_bytes(sdf: DataFrame) -> "int | None":
    """Total bytes of the local file sources feeding ``sdf``, read from
    the analyzed plan's StreamingRelation leaves (path + pathGlobFilter
    options). None when any source is not a readable local file/dir —
    callers then keep the session's shuffle-partition setting."""
    import fnmatch

    def _opt(opts, key):
        v = opts.get(key)
        return v.get() if v.isDefined() else None

    try:
        # analyzed, not logical: a bare readStream is an
        # UnresolvedDataSource until analysis resolves the file source
        leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()  # type: ignore[attr-defined]
        total = 0
        seen = False
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if "StreamingRelation" not in leaf.getClass().getName():
                continue
            opts = leaf.dataSource().options()
            path = _opt(opts, "path")
            if not path:
                return None
            seen = True
            glob = _opt(opts, "pathGlobFilter")
            if os.path.isfile(path):
                total += os.path.getsize(path)
            elif os.path.isdir(path):
                for root, _dirs, files in os.walk(path, followlinks=True):
                    # pathGlobFilter matches each listed LEAF file's name
                    # (Spark applies the glob to file names during
                    # listing, at any depth) — match every file's own
                    # name; an approximation only in that Spark's
                    # non-recursive listing may not descend where this
                    # walk does, which over-counts, never under-counts
                    for f in files:
                        if glob and not fnmatch.fnmatch(f, glob):
                            continue
                        with contextlib.suppress(OSError):
                            total += os.path.getsize(os.path.join(root, f))
            else:
                return None
    except Exception:
        return None
    return total if seen and total > 0 else None


#: FileSystem-based checkpoint manager for checkpoints nobody else writes
#: (r16, guide §5 — per-run fixed costs). Spark's default FileContext
#: manager builds a fresh FileContext + AbstractFileSystem for every
#: metadata log and every state-store provider (FileContext has no
#: instance cache): a long-lived query pays that once, a bounded run pays
#: it on every run — ~40 ms per metadata op (latestOffset / walCommit /
#: commitOffsets) and most of a stateful commit. Spark's own
#: FileSystemBasedCheckpointFileManager goes through the process-wide
#: FileSystem cache instead: interleaved same-session A/B
#: (tools/ckpt_fm_spot.py) measured the metadata trio 42/41/42 → 9/9/9 ms
#: and whole-job walls 0.57 → 0.40 s (stateless) / 1.10 → 0.71 s
#: (stateful dropDuplicates). What the FileContext manager adds is a
#: rename that never overwrites, which matters only against a second,
#: concurrent writer of the same checkpoint (a zombie driver). A
#: checkpoint under a root this process created with mkdtemp — the
#: runner's scratch dirs, a StreamJobManager built without a
#: checkpoint_root — has no such writer, PAUSE/RESUME included; a
#: caller-supplied root keeps Spark's default. Disable via
#: $VS_STREAM_LOCAL_CKPT_FM=0.
_FM_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark 4.x moved the class into the checkpointing package; 3.x keeps it
#: in streaming. The first one this JVM can load wins.
_FM_CANDIDATES = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming.FileSystemBasedCheckpointFileManager",
)
_LOCAL_CKPT_FM = os.environ.get("VS_STREAM_LOCAL_CKPT_FM", "1") != "0"
_SHUFFLE_CONF = "spark.sql.shuffle.partitions"

#: Serialises set → start() → restore: two overlapping scopes would
#: otherwise restore each other's values and leave the session sized.
_SCOPE_LOCK = threading.Lock()


@functools.lru_cache(maxsize=None)
def _fs_ckpt_manager(candidates: tuple[str, ...]) -> "str | None":
    """The first of ``candidates`` this JVM can load, resolved once (PySpark
    drives one JVM per process); None — Spark's default manager stays —
    with one warning when none loads."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    for name in candidates:
        try:
            SparkContext._jvm.java.lang.Class.forName(name)  # type: ignore[union-attr]
            return name
        except Py4JError:
            continue
    logging.getLogger(__name__).warning(
        "no FileSystem-based checkpoint manager among %s; bounded runs keep "
        "Spark's default checkpoint file manager",
        list(candidates),
    )
    return None


@contextlib.contextmanager
def bounded_run_scope(
    sdf: DataFrame, own_checkpoint: bool = True, available_now: bool = True
):
    """Session confs for ONE streaming query's ``writer.start()`` — wrap
    that call only. The query clones its session inside ``start()`` and
    keeps the clone's confs for its whole run, so the session values are
    restored as soon as ``start()`` returns. A RESUME passes through the
    scope again; its state keeps the partition count recorded in the
    checkpoint's offset log.

    - ``available_now``: size spark.sql.shuffle.partitions — and so the
      state-store partition count — from the stream's source bytes.
    - ``own_checkpoint``: the checkpoint sits under a root this process
      made with mkdtemp, so the FileSystem-based manager applies.

    Set and restore happen under one module lock. A batch query planned
    on the same session while ``start()`` runs still sees the override."""
    spark = sdf.sparkSession
    n_bytes = (
        _stream_input_bytes(sdf)
        if available_now and _TARGET_PART_BYTES > 0
        else None
    )
    fm = (
        _fs_ckpt_manager(_FM_CANDIDATES)
        if own_checkpoint and _LOCAL_CKPT_FM
        else None
    )
    with _SCOPE_LOCK:
        prev = {
            _SHUFFLE_CONF: spark.conf.get(_SHUFFLE_CONF),
            _FM_CONF: spark.conf.get(_FM_CONF, None),
        }
        overrides = {}
        if n_bytes is not None:
            session_n = int(prev[_SHUFFLE_CONF])
            n = min(session_n, max(1, math.ceil(n_bytes / _TARGET_PART_BYTES)))
            # Hysteresis: act only when the sizing at least HALVES the
            # count — a 29-for-32 rewrite wins nothing but perturbs the
            # plan; the target is the small-input regime.
            if n <= session_n // 2:
                overrides[_SHUFFLE_CONF] = str(n)
        if fm is not None:
            overrides[_FM_CONF] = fm
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k in overrides:
                if prev[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, prev[k])


#: Throwaway checkpoints/sinks (unique per call, never resumed) go to tmpfs
#: when the host has one — state-store commits and sink files then cost
#: memory bandwidth, not disk fsyncs. Production jobs configure their own
#: durable checkpointLocation through the SQL engine; this helper is the
#: run-to-completion path for tests/bench only.
_SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _unique(prefix: str) -> str:
    return f"{prefix}_{next(_COUNTER)}"


def _scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH)
    _SCRATCH_DIRS.append(d)
    return d


#: tmpfs holds RAM — sweep every scratch dir at interpreter exit (the old
#: /tmp variant leaked them to disk, harmless; leaking RAM is not).
_SCRATCH_DIRS: list[str] = []


def _sweep_scratch() -> None:  # pragma: no cover — exit hook
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_sweep_scratch)


def run_available_now(
    sdf: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    timeout_s: int = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion; return the sink contents.

    Append mode writes a parquet file sink (distributed — executors write
    their partitions directly, no driver collect) and returns a reader over
    it; update/complete modes use the memory sink. Unique sink name +
    throwaway checkpoint per call, so repeated invocations (driver retries,
    bench steady-state) are independent."""
    name = _unique(query_name or "vs_stream")
    if output_mode == "append":
        out_dir = _scratch_dir(f"vs-out-{name}-")
        writer = sdf.writeStream.format("parquet").option("path", out_dir)
        _run_bounded(sdf, writer, name, output_mode, timeout_s)
        # Explicit schema: a zero-row run leaves no data files to infer from.
        return sdf.sparkSession.read.schema(sdf.schema).parquet(out_dir)
    writer = sdf.writeStream.format("memory")
    _run_bounded(sdf, writer, name, output_mode, timeout_s)
    return sdf.sparkSession.table(name)


def run_foreach_batch(
    sdf: DataFrame,
    func,
    output_mode: str = "update",
    query_name: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Run a streaming DataFrame to completion through ``foreachBatch`` —
    the reference's DataWriter.write_batch loop (datasource/traits.rs:154);
    ``func(batch_df, batch_id)`` is invoked once per micro-batch."""
    name = _unique(query_name or "vs_feb")
    writer = sdf.writeStream.foreachBatch(func)
    _run_bounded(sdf, writer, name, output_mode, timeout_s)


def _run_bounded(sdf, writer, name, output_mode, timeout_s) -> None:
    """Start ``writer`` on a fresh scratch checkpoint inside the
    bounded-run scope and wait for its availableNow run to finish."""
    writer = (
        writer.queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", _scratch_dir(f"vs-ckpt-{name}-"))
        .trigger(availableNow=True)
    )
    with bounded_run_scope(sdf):
        q = writer.start()
    q.awaitTermination(timeout_s)


def max_event_time(spark: SparkSession, batch_df: DataFrame, ts_col: str):
    """Max event time of a bounded input — the final watermark position of
    an availableNow run with 0s delay (windows ending ≤ this emitted)."""
    import pyspark.sql.functions as F

    return batch_df.agg(F.max(ts_col)).collect()[0][0]
