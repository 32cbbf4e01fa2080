"""The bounded-run scope (runner.bounded_run_scope) around a streaming
query's start(): size-adaptive shuffle/state partitioning — small bounded
inputs must not pay one state-store instance per session shuffle
partition, the cluster regime (large input) is untouched — and the
FileSystem-based checkpoint manager for checkpoints under a root this
process created. The session confs are restored right after start(),
under a lock, while the started query keeps what it captured."""

from __future__ import annotations

import logging
import math
import os
import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from velostream_spark.streaming import runner
from velostream_spark.streaming.jobs import StreamJobManager
from velostream_spark.streaming.source import stream_table

SHUFFLE = "spark.sql.shuffle.partitions"


def test_stream_input_bytes_resolves_glob_source(spark):
    sdf = stream_table(spark, SF_SMOKE, "events").select("event_id")
    n = runner._stream_input_bytes(sdf)
    actual = os.path.getsize(os.path.join(SF_SMOKE, "events.parquet"))
    assert n == actual, (n, actual)


def test_stream_input_bytes_none_for_batch_df(spark):
    df = spark.range(10)
    assert runner._stream_input_bytes(df) is None


def test_sized_partitions_small_input_and_restore(spark):
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sdf = stream_table(spark, SF_SMOKE, "events")
    n_bytes = runner._stream_input_bytes(sdf)
    expect = min(session_n, max(1, math.ceil(n_bytes / runner._TARGET_PART_BYTES)))
    with runner.bounded_run_scope(sdf):
        inside = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if expect > session_n // 2:  # hysteresis keeps the session value
            assert inside == session_n
        else:
            assert inside == expect, (inside, expect)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == session_n


def test_sized_partitions_respects_disable_env(spark, monkeypatch):
    monkeypatch.setattr(runner, "_TARGET_PART_BYTES", -1)
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sdf = stream_table(spark, SF_SMOKE, "events")
    with runner.bounded_run_scope(sdf):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == session_n


def test_sized_partitions_large_input_keeps_session_value(spark, monkeypatch):
    # cluster regime: bytes/target >> session partitions → conf untouched
    monkeypatch.setattr(runner, "_TARGET_PART_BYTES", 1)
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sdf = stream_table(spark, SF_SMOKE, "events")
    with runner.bounded_run_scope(sdf):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == session_n


def test_state_partitions_follow_sizing_end_to_end(spark):
    """A bounded stateful run on a tiny source uses the derived partition
    count for its state store (visible as the sink's task partitioning),
    and results match batch dropDuplicates exactly."""
    sdf = stream_table(spark, SF_SMOKE, "events").select("user_id", "event_type")
    out = runner.run_available_now(
        sdf.dropDuplicates(["user_id"]), "append", "sizing_e2e"
    )
    got = {r["user_id"] for r in out.collect()}
    from velostream_spark.session import load_tables

    t = load_tables(spark, SF_SMOKE, register_views=False)
    expect = {r["user_id"] for r in t["events"].select("user_id").distinct().collect()}
    assert got == expect


def test_local_ckpt_file_manager_set_and_restored(spark):
    # r16: a checkpoint under a root this process made uses the
    # FileSystem-based manager (process-cached FileSystem) while the query
    # starts, then the session conf is restored exactly; a caller's root
    # keeps Spark's default.
    sdf = stream_table(spark, SF_SMOKE, "events")
    assert runner._fs_ckpt_manager(runner._FM_CANDIDATES) == runner._FM_CANDIDATES[0]
    assert spark.conf.get(runner._FM_CONF, None) is None
    with runner.bounded_run_scope(sdf):
        assert spark.conf.get(runner._FM_CONF) == runner._FM_CANDIDATES[0]
    assert spark.conf.get(runner._FM_CONF, None) is None
    with runner.bounded_run_scope(sdf, own_checkpoint=False):
        assert spark.conf.get(runner._FM_CONF, None) is None
    # a user-chosen manager is put back, not clobbered
    spark.conf.set(runner._FM_CONF, "com.example.CustomManager")
    try:
        with runner.bounded_run_scope(sdf):
            assert spark.conf.get(runner._FM_CONF) == runner._FM_CANDIDATES[0]
        assert spark.conf.get(runner._FM_CONF) == "com.example.CustomManager"
    finally:
        spark.conf.unset(runner._FM_CONF)


def test_local_ckpt_file_manager_respects_disable_env(spark, monkeypatch):
    monkeypatch.setattr(runner, "_LOCAL_CKPT_FM", False)
    with runner.bounded_run_scope(stream_table(spark, SF_SMOKE, "events")):
        assert spark.conf.get(runner._FM_CONF, None) is None


def test_unloadable_fs_manager_keeps_default_and_warns_once(
    spark, monkeypatch, caplog
):
    """No candidate class loads (a Spark line that moved it again): the
    default manager stays, and the miss is logged once, not per run."""
    monkeypatch.setattr(runner, "_FM_CANDIDATES", ("com.example.NoSuchManager",))
    runner._fs_ckpt_manager.cache_clear()
    sdf = stream_table(spark, SF_SMOKE, "events")
    try:
        with caplog.at_level(logging.WARNING, logger=runner.__name__):
            for _ in range(2):
                with runner.bounded_run_scope(sdf):
                    assert spark.conf.get(runner._FM_CONF, None) is None
    finally:
        runner._fs_ckpt_manager.cache_clear()
    warned = [r for r in caplog.records if "com.example.NoSuchManager" in r.getMessage()]
    assert len(warned) == 1


def test_bounded_run_results_identical_under_fs_manager(spark):
    # same stateful job, default vs FileSystem-based manager → identical rows
    from velostream_spark.streaming.runner import run_available_now

    def run():
        sdf = stream_table(spark, SF_SMOKE, "events").select(
            "event_id", "user_id", "value"
        )
        out = run_available_now(
            sdf.dropDuplicates(["user_id"]), "append", "fm_parity"
        )
        return {tuple(r) for r in out.collect()}

    with_fm = run()
    try:
        runner._LOCAL_CKPT_FM = False
        without_fm = run()
    finally:
        runner._LOCAL_CKPT_FM = True
    assert with_fm == without_fm and len(with_fm) > 0


def _sized_count(spark, sdf) -> int:
    """The partition count the scope derives for ``sdf`` at the session's
    shuffle setting (asserted below the session value, so it is visible)."""
    session_n = int(spark.conf.get(SHUFFLE))
    n = min(session_n, max(1, math.ceil(
        runner._stream_input_bytes(sdf) / runner._TARGET_PART_BYTES)))
    assert n <= session_n // 2, (n, session_n)
    return n


def _conf_probe(seen: list):
    """foreachBatch fn recording the confs of the stream's own session."""

    def probe(batch_df, batch_id):
        batch_df.count()  # a stateful batch must be consumed to commit
        conf = batch_df.sparkSession.conf
        seen.append((conf.get(SHUFFLE), conf.get(runner._FM_CONF, None)))

    return probe


def _probe_job(spark, mgr, name, trigger=None):
    """Deploy a stateful probe job, check the session confs right after
    start(), drain it, and return the confs its micro-batches saw."""
    before = (spark.conf.get(SHUFFLE), spark.conf.get(runner._FM_CONF, None))
    seen: list = []
    mgr.deploy(
        name,
        lambda: stream_table(spark, SF_SMOKE, "events").groupBy("user_id").count(),
        output_mode="update",
        trigger=trigger,
        foreach_batch=_conf_probe(seen),
    )
    assert (spark.conf.get(SHUFFLE), spark.conf.get(runner._FM_CONF, None)) == before
    mgr.wait(name)
    mgr.stop(name)
    assert seen
    return set(seen)


def test_sqlengine_job_runs_with_fs_manager_and_sized_partitions(spark):
    """An SqlEngine job's manager owns its mkdtemp checkpoint root: the
    stream itself runs with the FileSystem-based manager and the sized
    partition count, though the session got its values back at start()."""
    from velostream_spark.sql.engine import SqlEngine

    n = _sized_count(spark, stream_table(spark, SF_SMOKE, "events"))
    seen = _probe_job(spark, SqlEngine(spark).jobs, "scope_probe_own")
    assert seen == {(str(n), runner._FM_CANDIDATES[0])}


def test_caller_root_job_keeps_spark_default_manager(spark, tmp_path):
    """A caller-supplied checkpoint root may have another writer: Spark's
    default manager stays. Sizing follows the trigger alone — an
    availableNow job is sized, a once-trigger job keeps the session's
    partition count."""
    n = _sized_count(spark, stream_table(spark, SF_SMOKE, "events"))
    mgr = StreamJobManager(spark, checkpoint_root=str(tmp_path / "ckpt"))
    assert _probe_job(spark, mgr, "scope_probe_caller") == {(str(n), None)}
    assert _probe_job(spark, mgr, "scope_probe_once", trigger={"once": True}) == {
        (spark.conf.get(SHUFFLE), None)
    }


def test_state_dir_has_sized_partitions_after_restore(spark):
    """The state store is laid out at the sized count even though the
    session value was restored right after start()."""
    session_n = spark.conf.get(SHUFFLE)
    sdf = stream_table(spark, SF_SMOKE, "events")
    n = _sized_count(spark, sdf)
    mgr = StreamJobManager(spark)
    job = mgr.deploy(
        "scope_state_dirs",
        lambda: stream_table(spark, SF_SMOKE, "events").dropDuplicates(["user_id"]),
        sink_format="memory",
    )
    assert spark.conf.get(SHUFFLE) == session_n
    mgr.wait("scope_state_dirs")
    parts = [d for d in os.listdir(os.path.join(job.checkpoint, "state", "0"))
             if d.isdigit()]
    assert len(parts) == n, (parts, n)


def test_overlapping_bounded_runs_restore_session_confs(spark):
    """Two bounded runs started from threads while a batch query runs:
    each scope sets and restores under the lock, so neither can restore
    the other's sized value, and the session ends at its exact prior
    values. Both runs still return the right rows."""
    prior = (spark.conf.get(SHUFFLE), spark.conf.get(runner._FM_CONF, None))
    want = {r["user_id"] for r in spark.read.parquet(
        os.path.join(SF_SMOKE, "events.parquet")).select("user_id").distinct().collect()}
    results: dict[int, set] = {}
    errors: list = []

    def bounded(i):
        try:
            for _ in range(3):
                out = runner.run_available_now(
                    stream_table(spark, SF_SMOKE, "events")
                    .select("user_id").dropDuplicates(["user_id"]),
                    "append", f"scope_overlap_{i}",
                )
                results[i] = {r["user_id"] for r in out.collect()}
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=bounded, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    batch_n = spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count().count()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert batch_n == 7
    assert results == {0: want, 1: want}
    assert (spark.conf.get(SHUFFLE), spark.conf.get(runner._FM_CONF, None)) == prior


def test_second_scope_waits_for_the_first(spark):
    """The lock itself: a scope entered while another is open waits for
    it, so it reads the session's own values as its restore point."""
    sdf = stream_table(spark, SF_SMOKE, "events")
    session_n = spark.conf.get(SHUFFLE)
    n = _sized_count(spark, sdf)
    inside: list = []

    def second():
        with runner.bounded_run_scope(sdf):
            inside.append(spark.conf.get(SHUFFLE))

    with runner.bounded_run_scope(sdf):
        t = threading.Thread(target=second)
        t.start()
        t.join(1.0)
        assert t.is_alive() and not inside
    t.join(30)
    assert not t.is_alive() and inside == [str(n)]
    assert spark.conf.get(SHUFFLE) == session_n
