"""Streaming-semantics tests: multi-batch state carry-over, EMIT CHANGES
changelogs, job lifecycle (pause/resume from checkpoint), late-data DLQ —
the behaviors the single-batch oracle parity can't see.

Mirrors the reference's emit/watermark unit tests (SURVEY.md §5:
tests/integration/emit_functionality_test, window state tests) using file
micro-batches (maxFilesPerTrigger=1 over sequentially written chunks) in
place of Kafka.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_SMOKE

from velostream_spark.session import load_tables
from velostream_spark.streaming.emit import EmitMode, default_emit_mode, output_mode_for
from velostream_spark.streaming.jobs import StreamJobManager
from velostream_spark.streaming.late_data import DeadLetterSplitter
from velostream_spark.streaming.rows_window import rows_window_batch, rows_window_stream
from velostream_spark.streaming.runner import run_available_now, run_foreach_batch
from velostream_spark.streaming.source import stream_csv, stream_parquet


def _events(spark):
    return load_tables(spark, SF_SMOKE, register_views=False)["events"]


def _write_chunks(spark, df, tmpdir: str, n: int, order_col: str) -> str:
    """Write df as n single-file parquet chunks, ordered by order_col across
    chunks, with increasing mtimes so the file source picks them up in
    order (one chunk per micro-batch with maxFilesPerTrigger=1)."""
    rows = df.count()
    per = (rows + n - 1) // n
    ranked = df.orderBy(order_col).withColumn(
        "_rk", F.row_number().over(Window.orderBy(order_col))
    )
    os.makedirs(tmpdir, exist_ok=True)
    for i in range(n):
        chunk = ranked.where(
            (F.col("_rk") > i * per) & (F.col("_rk") <= (i + 1) * per)
        ).drop("_rk")
        path = os.path.join(tmpdir, f"chunk_{i:03d}.parquet")
        # pandas holds ns timestamps; Spark's reader expects micros
        chunk.toPandas().to_parquet(path, index=False, coerce_timestamps="us")
        mtime = time.time() - (n - i) * 10
        os.utime(path, (mtime, mtime))
    return tmpdir


# -- emit-mode mapping -------------------------------------------------------


def test_emit_defaults_match_reference():
    # select.rs:490-501: windowed → FINAL, non-windowed → CHANGES
    assert default_emit_mode(has_window=True) is EmitMode.FINAL
    assert default_emit_mode(has_window=False) is EmitMode.CHANGES


@pytest.mark.parametrize(
    "emit,window,agg,expected",
    [
        (EmitMode.CHANGES, False, False, "append"),
        (EmitMode.FINAL, False, False, "append"),
        (EmitMode.CHANGES, False, True, "update"),
        (EmitMode.CHANGES, True, True, "update"),
        (EmitMode.FINAL, True, True, "append"),
        (EmitMode.FINAL, False, True, "complete"),
        (None, True, True, "append"),
        (None, False, True, "update"),
    ],
)
def test_output_mode_mapping(emit, window, agg, expected):
    assert output_mode_for(emit, window, agg) == expected


# -- multi-batch stateful semantics -----------------------------------------


def test_rows_window_state_carries_across_batches(spark, tmp_path):
    """ROWS WINDOW over 4 micro-batches == batch window functions over the
    whole input: proves the bucketed buffer state (applyInPandasWithState)
    survives batch boundaries exactly like the reference's ring buffer."""
    ev = _events(spark).select("user_id", "event_id", "value")
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 4, "event_id")
    sdf = stream_parquet(spark, src, schema=ev.schema, max_files_per_trigger=1)
    aggs = [
        ("moving_avg", "avg"),
        ("moving_sum", "sum"),
        ("moving_min", "min"),
        ("buffer_n", "count"),
        ("prev_value", "lag"),
        ("first_in_buffer", "first"),
        ("row_num", "row_number"),
    ]
    got = run_available_now(
        rows_window_stream(sdf, ["user_id"], "event_id", "value", 5, aggs),
        "append",
        "rw_multibatch",
    ).toPandas()
    want = rows_window_batch(
        _events(spark), ["user_id"], "event_id", "value", 5, aggs
    ).toPandas()
    got = got.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    want = want.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for col in ("moving_avg", "moving_sum", "moving_min", "prev_value",
                "first_in_buffer"):
        assert got[col].round(9).equals(want[col].round(9)), col
    assert got["buffer_n"].equals(want["buffer_n"].astype("int64"))
    assert got["row_num"].equals(want["row_num"])


def _buffer_full_rows(per_key, buffer: int) -> int:
    """Rows a buffer_full run emits: each key's records from the
    ``buffer``-th on."""
    return int((per_key["count"] - (buffer - 1)).clip(lower=0).sum())


def test_rows_window_buffer_full_emission(spark, tmp_path):
    """EmitMode::BufferFull: rows emitted only once the per-key buffer holds
    buffer_size rows (reference ast.rs:567-575), across 2 micro-batches,
    equal to the batch twin."""
    ev = _events(spark).select("user_id", "event_id", "value")
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 2, "event_id")
    sdf = stream_parquet(spark, src, schema=ev.schema, max_files_per_trigger=1)
    aggs = [("buffer_n", "count"), ("moving_avg", "avg")]
    got = run_available_now(
        rows_window_stream(
            sdf, ["user_id"], "event_id", "value", 5, aggs, emit="buffer_full"
        ),
        "append",
        "rw_bufferfull",
    ).toPandas().sort_values(["user_id", "event_id"]).reset_index(drop=True)
    want = rows_window_batch(
        ev, ["user_id"], "event_id", "value", 5, aggs, emit="buffer_full"
    ).toPandas().sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert (got["buffer_n"] == 5).all()
    per_user = ev.groupBy("user_id").count().toPandas()
    assert len(got) == len(want) == _buffer_full_rows(per_user, 5) > 0
    assert got["event_id"].equals(want["event_id"])
    assert got["moving_avg"].round(9).equals(want["moving_avg"].round(9))


def test_rows_window_bucketed_parity_multibatch(spark, tmp_path):
    """The bucketed buffer state gives the batch twin's answer whatever the
    bucket count, over 4 micro-batches: buckets=1 (every key shares one
    state blob — maximum collision stress) and buckets=8."""
    ev = _events(spark).select("user_id", "event_id", "value")
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 4, "event_id")
    aggs = [
        ("moving_avg", "avg"),
        ("moving_sum", "sum"),
        ("moving_min", "min"),
        ("buffer_n", "count"),
        ("prev_value", "lag"),
        ("first_in_buffer", "first"),
        ("row_num", "row_number"),
    ]
    want = (
        rows_window_batch(ev, ["user_id"], "event_id", "value", 5, aggs)
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    for buckets in (1, 8):
        sdf = stream_parquet(spark, src, schema=ev.schema, max_files_per_trigger=1)
        got = (
            run_available_now(
                rows_window_stream(
                    sdf, ["user_id"], "event_id", "value", 5, aggs, buckets=buckets
                ),
                "append",
                f"rw_bkt_{buckets}",
            )
            .toPandas()
            .sort_values(["user_id", "event_id"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) > 0, buckets
        for col in ("moving_avg", "moving_sum", "moving_min", "prev_value",
                    "first_in_buffer"):
            assert got[col].round(9).equals(want[col].round(9)), (buckets, col)
        for col in ("buffer_n", "row_num"):
            assert got[col].equals(want[col].astype("int64")), (buckets, col)


def test_rows_window_bucketed_multicol_buffer_full(spark, tmp_path):
    """A multi-column partition key with emit='buffer_full' across
    micro-batches matches the batch twin, one row per record from each
    (user_id, event_type) key's 4th record on."""
    keys = ["user_id", "event_type"]
    ev = _events(spark).select(*keys, "event_id", "value")
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 3, "event_id")
    aggs = [("moving_avg", "avg"), ("buffer_n", "count"), ("row_num", "row_number")]
    sdf = stream_parquet(spark, src, schema=ev.schema, max_files_per_trigger=1)
    got = run_available_now(
        rows_window_stream(sdf, keys, "event_id", "value", 4, aggs, emit="buffer_full"),
        "append",
        "rw_bkt_mc",
    ).toPandas().sort_values([*keys, "event_id"]).reset_index(drop=True)
    want = rows_window_batch(
        ev, keys, "event_id", "value", 4, aggs, emit="buffer_full"
    ).toPandas().sort_values([*keys, "event_id"]).reset_index(drop=True)
    per_key = ev.groupBy(*keys).count().toPandas()
    assert len(got) == len(want) == _buffer_full_rows(per_key, 4) > 0
    assert (got["buffer_n"] == 4).all()
    assert got["event_id"].equals(want["event_id"])
    assert got["moving_avg"].round(9).equals(want["moving_avg"].round(9))
    assert got["row_num"].equals(want["row_num"].astype("int64"))


def test_rows_window_bucketed_null_keys(spark, tmp_path):
    """Null partition keys form their own group (like Spark's groupBy and
    the batch twin) instead of crashing the object-array sort or being
    silently dropped by pandas groupby (ADVICE r2 bug)."""
    rows = [
        (None, 1, 1.0), (7, 2, 2.0), (None, 3, 3.0), (7, 4, 4.0),
        (None, 5, 5.0), (8, 6, 6.0), (None, 7, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    src = str(tmp_path / "nulls")
    df.coalesce(1).write.parquet(src)
    sdf = stream_parquet(spark, src, schema=df.schema)
    aggs = [("moving_avg", "avg"), ("buffer_n", "count"), ("row_num", "row_number")]
    got = (
        run_available_now(
            rows_window_stream(sdf, ["user_id"], "event_id", "value", 3, aggs),
            "append",
            "rw_nulls",
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        rows_window_batch(df, ["user_id"], "event_id", "value", 3, aggs)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(rows)
    assert got["moving_avg"].round(9).equals(want["moving_avg"].round(9))
    assert got["buffer_n"].equals(want["buffer_n"].astype("int64"))
    assert got["row_num"].equals(want["row_num"].astype("int64"))
    # the null-key group really accumulated: 4 rows, buffer of 3
    nulls = got[got["user_id"].isna()].sort_values("event_id")
    assert list(nulls["row_num"]) == [1, 2, 3, 4]
    assert list(nulls["buffer_n"]) == [1, 2, 3, 3]


def test_rows_window_coalesces_arrow_chunks_before_sorting(spark, tmp_path):
    """One bucket's micro-batch delivered as several Arrow chunks, rows out
    of order across them, must be sorted as ONE batch: sorting per chunk
    would push rows into the ring buffer out of order_by order."""
    import numpy as np

    rng = np.random.RandomState(3)
    n = 240
    perm = rng.permutation(n)
    rows = [(int(i % 4), int(i), float(v)) for i, v in zip(perm, rng.randn(n)[perm])]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    src = str(tmp_path / "shuffled")
    df.coalesce(1).write.parquet(src)
    aggs = [("moving_avg", "avg"), ("moving_min", "min"), ("prev_value", "lag")]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "16")  # 240 rows in one bucket → 15 chunks
    try:
        got = run_available_now(
            rows_window_stream(
                stream_parquet(spark, src, schema=df.schema),
                ["user_id"], "event_id", "value", 4, aggs, buckets=1,
            ),
            "append",
            "rw_chunks",
        ).toPandas()
    finally:
        spark.conf.set(conf, old)
    got = got.sort_values("event_id").reset_index(drop=True)
    want = (
        rows_window_batch(df, ["user_id"], "event_id", "value", 4, aggs)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert list(got["event_id"]) == list(range(n))
    for col in ("moving_avg", "moving_min", "prev_value"):
        assert got[col].round(9).equals(want[col].round(9)), col


def test_emit_changes_changelog_converges(spark, tmp_path):
    """EMIT CHANGES over micro-batches: each batch emits updated groups; the
    last emission per group equals the batch aggregate (reference
    handle_group_by_record select.rs:1534 per-record update stream)."""
    ev = _events(spark).select("user_id", "value")
    src = _write_chunks(spark, _events(spark), str(tmp_path / "chunks"), 3, "event_id")
    sdf = stream_parquet(spark, src, schema=_events(spark).schema, max_files_per_trigger=1)
    agg = sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total")
    )
    emissions: list[tuple[int, dict]] = []

    def collect(batch_df, batch_id):
        for row in batch_df.collect():
            emissions.append((batch_id, row.asDict()))

    run_foreach_batch(agg, collect, output_mode="update", query_name="changes_log")
    assert len({b for b, _ in emissions}) >= 2, "expected multiple micro-batches"
    last: dict[int, dict] = {}
    for b, row in sorted(emissions, key=lambda x: x[0]):
        last[row["user_id"]] = row
    want = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .toPandas()
        .to_dict("records")
    }
    assert set(last) == set(want)
    for uid, row in want.items():
        assert last[uid]["n"] == row["n"], uid
        assert abs(last[uid]["total"] - row["total"]) < 1e-6, uid


def test_streaming_csv_source(spark, tmp_path):
    """CSV file-stream source (reference FileFormat::Csv) round-trips."""
    pdf = _events(spark).select("event_id", "event_type", "value").toPandas()
    d = tmp_path / "csv"
    d.mkdir()
    pdf.to_csv(d / "part1.csv", index=False)
    schema = _events(spark).select("event_id", "event_type", "value").schema
    sdf = stream_csv(spark, str(d), schema, header=True)
    got = run_available_now(sdf, "append", "csv_stream").toPandas()
    assert len(got) == len(pdf)
    assert abs(got["value"].sum() - pdf["value"].sum()) < 1e-6


# -- job manager -------------------------------------------------------------


def test_job_manager_lifecycle_and_resume(spark, tmp_path):
    """Deploy → availableNow drains current files → pause → new file arrives
    → resume picks up ONLY the new file from the checkpoint (exactly-once
    recovery; reference PAUSE/RESUME JOB ast.rs:302-365)."""
    ev = _events(spark).select("user_id", "event_id", "value")
    src = str(tmp_path / "src")
    _write_chunks(spark, ev.where(F.col("event_id") < 500), src, 1, "event_id")
    mgr = StreamJobManager(spark, checkpoint_root=str(tmp_path / "ckpt"))
    sink = str(tmp_path / "out")

    def build():
        sdf = stream_parquet(spark, src, schema=ev.schema)
        return sdf.select("user_id", "event_id", "value")

    mgr.deploy(
        "job1", build, sink_format="parquet",
        sink_options={"path": sink}, output_mode="append",
    )
    mgr.wait("job1")
    n1 = spark.read.parquet(sink).count()
    assert n1 == ev.where(F.col("event_id") < 500).count()

    mgr.pause("job1")
    assert mgr.describe("job1")["state"] == "paused"
    jobs = {j["name"]: j for j in mgr.show_jobs()}
    assert jobs["job1"]["active"] is False

    late = ev.where(F.col("event_id") >= 500).toPandas()
    late.to_parquet(os.path.join(src, "chunk_zz_late.parquet"), index=False)
    mgr.resume("job1")
    mgr.wait("job1")
    n2 = spark.read.parquet(sink).count()
    assert n2 == ev.count(), "resume must process exactly the new file"


def test_sqlengine_stateful_job_pause_resume_matches_duckdb(spark, tmp_path):
    """PAUSE/RESUME of a stateful SqlEngine job, whose checkpoint sits
    under the manager's own root (FileSystem-based checkpoint manager,
    sized state partitions): the resumed aggregate picks up the state
    the first run committed and equals DuckDB's total over both files."""
    import duckdb

    from velostream_spark.sql.engine import SqlEngine

    ev = _events(spark).select("user_id", "event_id", "value")
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    ev.where(F.col("event_id") < 500).toPandas().to_parquet(
        os.path.join(src, "chunk_a.parquet"), index=False)
    eng = SqlEngine(spark)
    assert eng.jobs._own_root
    eng.execute_streaming(
        "CREATE STREAM pr_agg AS SELECT user_id, COUNT(*) AS n, "
        "SUM(event_id) AS total FROM pr_src GROUP BY user_id "
        f"WITH ('pr_src.type' = 'file_source', 'pr_src.path' = '{src}', "
        "'pr_src.format' = 'parquet', "
        f"'pr_agg.type' = 'file_sink', 'pr_agg.path' = '{out}', "
        "'pr_agg.format' = 'parquet')"
    )
    eng.execute("PAUSE JOB pr_agg")
    ev.where(F.col("event_id") >= 500).toPandas().to_parquet(
        os.path.join(src, "chunk_b.parquet"), index=False)
    eng.execute("RESUME JOB pr_agg")
    eng.jobs.wait("pr_agg")
    eng.jobs.stop("pr_agg")

    batches = sorted(
        int(d[1:]) for d in os.listdir(out) if d[0] == "b" and d[1:].isdigit()
    )
    assert len(batches) >= 2, batches  # one before PAUSE, one after RESUME
    last: dict = {}
    for b in batches:
        for r in spark.read.parquet(os.path.join(out, f"b{b}")).collect():
            last[r["user_id"]] = (r["n"], r["total"])
    want = {
        k: (n, total)
        for k, n, total in duckdb.sql(
            "SELECT user_id, COUNT(*), SUM(event_id)::BIGINT "
            f"FROM read_parquet('{src}/*.parquet') GROUP BY user_id"
        ).fetchall()
    }
    assert last == want and len(want) > 10


# -- late data ---------------------------------------------------------------


def test_dead_letter_splitter_routes_late_rows(spark, tmp_path):
    """DLQ strategy: rows arriving behind the tracked watermark go to the
    dead-letter path (reference LateDataStrategy::DeadLetterQueue,
    watermarks.rs:113-130)."""
    ev = _events(spark).select("event_id", "ts", "value").orderBy("ts")
    pdf = ev.toPandas()
    # pandas writes TIMESTAMP(NANOS) by default, which the session reads
    # back as long (nanosAsLong) — write micros so the schema round-trips.
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 0: the NEWEST half first; batch 1: the oldest half → all of
    # batch 1 is far behind the watermark set by batch 0.
    newer, older = pdf.iloc[n // 2 :], pdf.iloc[: n // 2]
    newer.to_parquet(os.path.join(src, "b0.parquet"), index=False)
    t = time.time()
    os.utime(os.path.join(src, "b0.parquet"), (t - 60, t - 60))
    older.to_parquet(os.path.join(src, "b1.parquet"), index=False)
    schema = ev.schema
    sdf = stream_parquet(spark, src, schema=schema, max_files_per_trigger=1)
    splitter = DeadLetterSplitter(
        ts_col="ts",
        delay_seconds=60.0,
        main_path=str(tmp_path / "main"),
        dlq_path=str(tmp_path / "dlq"),
    )
    run_foreach_batch(sdf, splitter, output_mode="append", query_name="dlq")
    main_n = spark.read.parquet(str(tmp_path / "main")).count()
    dlq_n = spark.read.parquet(str(tmp_path / "dlq")).count()
    assert main_n + dlq_n == n
    assert dlq_n > 0, "late chunk must be dead-lettered"
    # every DLQ row is older than every main-batch-0 row minus delay
    max_main = spark.read.parquet(str(tmp_path / "main")).agg(F.max("ts")).collect()[0][0]
    max_dlq = spark.read.parquet(str(tmp_path / "dlq")).agg(F.max("ts")).collect()[0][0]
    assert max_dlq < max_main


def test_rows_window_multi_column_aggs(spark, tmp_path):
    """Multiple analytic fns over DIFFERENT columns of one buffer (one
    reference OVER-clause list may mix columns): per-column state carried
    across batches, checked against the batch twin."""
    ev = _events(spark).select("user_id", "event_id", "value").withColumn(
        "value2", F.col("value") * 2 + 1
    )
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 3, "event_id")
    sdf = stream_parquet(spark, src, schema=ev.schema, max_files_per_trigger=1)
    aggs = [
        ("avg_v", "avg", "value"),
        ("max_v2", "max", "value2"),
        ("lag_v2", "lag", "value2"),
        ("n", "count", "value"),
    ]
    got = run_available_now(
        rows_window_stream(sdf, ["user_id"], "event_id", "value", 5, aggs),
        "append",
        "rw_multicol",
    ).toPandas().sort_values(["user_id", "event_id"]).reset_index(drop=True)
    want = rows_window_batch(
        ev, ["user_id"], "event_id", "value", 5, aggs
    ).toPandas().sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert set(got.columns) == set(want.columns)
    for col in ("avg_v", "max_v2", "lag_v2"):
        assert got[col].round(9).equals(want[col].round(9)), col
    assert got["n"].equals(want["n"].astype("int64"))


def test_streaming_session_join_matches_batch_twin(spark, tmp_path):
    """True streaming session join (applyInPandasWithState, eager pair
    emission) == the batch co-sessionization composition, across 3
    time-ordered micro-batches — open-session state survives batch
    boundaries and pairs split across batches are still found exactly once
    (reference coordinator.rs:101-102 session co-windowing)."""
    from velostream_spark.queries.joins import session_join

    ev = _events(spark).where(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id", "ts", "event_type"
    )
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 3, "ts")
    got = _session_join_multibatch(spark, src, ev.schema, None, "session_join_multibatch")
    want = (
        session_join(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["click_id", "view_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ("click_id", "view_id", "user_id"):
        assert got[col].equals(want[col]), col
    assert got["session_start"].equals(want["session_start"])


def test_streaming_session_join_bucketed_parity(spark, tmp_path):
    """The session join gives the batch twin's pairs whatever the bucket
    count: buckets=1 (every key shares one state blob — maximum collision
    stress) and buckets=8, with in-bucket key GC along the way."""
    from velostream_spark.queries.joins import session_join

    ev = _events(spark).where(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id", "ts", "event_type"
    )
    src = _write_chunks(spark, ev, str(tmp_path / "chunks"), 3, "ts")
    want = (
        session_join(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["click_id", "view_id"])
        .reset_index(drop=True)
    )
    for buckets in (1, 8):
        got = _session_join_multibatch(
            spark, src, ev.schema, buckets, f"session_join_{buckets}"
        )
        assert len(got) == len(want) > 0, buckets
        for col in ("click_id", "view_id", "user_id"):
            assert got[col].equals(want[col]), (buckets, col)
        assert got["session_start"].equals(want["session_start"]), buckets


def _session_join_multibatch(spark, src, schema, buckets, tag):
    """Click/view session pairs of the streaming session join over the
    time-ordered chunks in ``src``, sorted by (click_id, view_id)."""
    from velostream_spark.streaming.session_join import session_pair_join_stream

    sdf = stream_parquet(
        spark, src, schema=schema, max_files_per_trigger=1
    ).withWatermark("ts", "0 seconds")
    return (
        run_available_now(
            session_pair_join_stream(
                sdf,
                key_col="user_id",
                time_col="ts",
                id_col="event_id",
                side_col="event_type",
                left_side="click",
                right_side="view",
                gap_minutes=30,
                left_out="click_id",
                right_out="view_id",
                buckets=buckets,
            ),
            "append",
            tag,
        )
        .toPandas()
        .sort_values(["click_id", "view_id"])
        .reset_index(drop=True)
    )


def _ooo_session_rows():
    """Out-of-order fixture (one user): batch1 opens session A (click 1 @
    10:00, view 2 @ 10:05) and session B (click 5 @ 11:30, view 6 @ 11:35 —
    gap 85min > 30min). Batch2 delivers LATE events within the watermark
    delay: view 3 @ 10:20 (extends session A after newer events exist) and
    click 4 @ 10:45 — which BRIDGES A (last 10:20 + 30m ≥ 10:45) toward
    nothing yet... then view 7 @ 11:05 bridges A∪{4} (last 10:45) and B
    (start 11:30 − 30m ≤ 11:05) into ONE session.

    Expected pairs (batch co-sessionization of the full set — one merged
    session {1..7}): clicks {1,4,5} × views {2,3,6,7} = 12 pairs.
    """
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    batch1 = [
        (1, 1, ts(0), "click"),
        (1, 2, ts(5), "view"),
        (1, 5, ts(90), "click"),
        (1, 6, ts(95), "view"),
    ]
    batch2 = [
        (1, 3, ts(20), "view"),   # late: extends session A
        (1, 4, ts(45), "click"),  # late: extends A again (10:20+30 ≥ 10:45)
        (1, 7, ts(65), "view"),   # late: bridges A(…10:45) and B(11:30…)
    ]
    return batch1, batch2


def test_session_join_out_of_order_bucketed(spark, tmp_path):
    """A late event within the watermark delay arriving AFTER newer events
    must extend its original session — and a late bridging event must MERGE
    two open sessions, emitting the cross pairs. late_slack must hold
    sessions open for the watermark delay so late events can extend or
    bridge them."""
    import os

    from velostream_spark.streaming.session_join import session_pair_join_stream

    schema = "user_id long, event_id long, ts timestamp, event_type string"
    batch1, batch2 = _ooo_session_rows()
    d = str(tmp_path / "ooo")
    os.makedirs(d)
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{d}/c{i}"
        )
    merged = f"{d}/merged"
    os.makedirs(merged)
    n = 0
    for i in range(2):
        for f in sorted(os.listdir(f"{d}/c{i}")):
            if f.endswith(".parquet"):
                os.link(f"{d}/c{i}/{f}", f"{merged}/{n:04d}.parquet")
                n += 1
    sdf = stream_parquet(
        spark, merged, max_files_per_trigger=1
    ).withWatermark("ts", "2 hours")
    pairs = session_pair_join_stream(
        sdf,
        key_col="user_id",
        time_col="ts",
        id_col="event_id",
        side_col="event_type",
        left_side="click",
        right_side="view",
        gap_minutes=30,
        left_out="click_id",
        right_out="view_id",
        buckets=4,
        late_slack_minutes=120,
    )
    out = run_available_now(pairs, "append", "ooo_session")
    got = sorted((int(r.click_id), int(r.view_id)) for r in out.collect())
    # one merged session {1..7}: clicks {1,4,5} × views {2,3,6,7}
    assert got == sorted((c, v) for c in (1, 4, 5) for v in (2, 3, 6, 7))


def test_streaming_curation_dedups_across_micro_batches(spark, tmp_path):
    """The dedup state must survive micro-batch boundaries: a duplicate of
    batch-1 content arriving in batch 2 is DROPPED by the state store (not
    merely within-batch distinct). Two parquet files + maxFilesPerTrigger=1
    force two micro-batches in one availableNow run."""
    import os as _os

    from velostream_spark.queries.streaming_queries import curation_stream
    from velostream_spark.streaming.runner import run_available_now

    # 24 words each, mean word length in [3, 10], ≥2 distinct stopwords,
    # no symbols — both pass the Gopher gate (asserted below, so a gate
    # constant change can't silently hollow out this test)
    good = (
        "the curious fox walks around the quiet meadow and watches "
        "every bird that sings with great patience during the long "
        "warm summer afternoon hours"
    )
    other = (
        "the careful owl glides over the silent valley and studies "
        "every mouse that moves with quiet focus during the cold "
        "clear winter morning hours"
    )
    from velostream_spark.operators import textops

    probe = spark.createDataFrame([(good,), (other,)], "text string")
    gf = textops.gopher_features(F.col("text"))
    assert (
        probe.where(
            gf["n_words"].between(textops.GOPHER_MIN_WORDS, textops.GOPHER_MAX_WORDS)
            & gf["mean_word_len"].between(
                textops.GOPHER_MIN_MEAN_WORD_LEN, textops.GOPHER_MAX_MEAN_WORD_LEN
            )
            & (gf["stop_hits"] >= textops.GOPHER_MIN_STOPWORD_HITS)
            & (gf["symbol_ratio"] <= textops.GOPHER_MAX_SYMBOL_RATIO)
        ).count()
        == 2
    ), "test texts must pass the quality gate"

    src = str(tmp_path / "docs_stream")
    _os.makedirs(src)
    b1 = spark.createDataFrame([(1, good, "en")], "doc_id long, text string, lang string")
    b2 = spark.createDataFrame(
        [(2, good, "en"), (3, other, "en")],  # 2 = cross-batch duplicate
        "doc_id long, text string, lang string",
    )
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")
    # file-stream source orders batches by modification time — force it
    now = time.time()
    for sub, ts in (("f1", now - 120), ("f2", now - 60)):
        d = _os.path.join(src, sub)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (ts, ts))

    sdf = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = run_available_now(curation_stream(sdf), "append", "cur_state").collect()
    # 3 input docs, 2 distinct contents: the batch-2 duplicate must be
    # dropped by cross-batch state
    assert len(out) == 2, out
    assert len({r["fp"] for r in out}) == 2


def test_bounded_dedup_state_with_watermark(spark, tmp_path):
    """The streaming_curation/streaming_dedup docstrings point to
    dropDuplicatesWithinWatermark as the production state bound — pin its
    lifecycle: a duplicate arriving within the watermark delay is DROPPED
    (cross-batch state), one arriving after its key was evicted (event
    time beyond ts + delay behind the watermark) re-emits."""
    import os as _os

    src = str(tmp_path / "ev_stream")
    _os.makedirs(src)
    t0 = 1_700_000_000  # epoch seconds
    rows1 = [
        (1, t0, "A"),
        (2, t0 + 60, "A"),        # duplicate 60s later: within 10m -> drop
        (3, t0 + 1800, "filler"),  # advances watermark to t0+1800-600
    ]
    # state cleanup runs at END of batch N with the watermark computed
    # from batch N-1, so eviction of A (expiry t0+660 < t0+1200) happens
    # at the end of THIS intermediate batch:
    rows2 = [(6, t0 + 1900, "filler2")]
    rows3 = [
        (4, t0 + 1500, "A"),  # A's state evicted -> re-emit
        (5, t0 + 1500, "B"),
    ]
    for sub, rows, ts in (("f1", rows1, 100), ("f2", rows2, 200), ("f3", rows3, 300)):
        df = spark.createDataFrame(rows, "event_id long, sec long, k string")
        df = df.select("event_id", F.timestamp_seconds("sec").alias("ts"), "k")
        d = f"{src}/{sub}"
        df.coalesce(1).write.parquet(d)
        now = time.time()
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (now - 1000 + ts, now - 1000 + ts))

    from velostream_spark.streaming.runner import run_available_now

    sdf = (
        spark.readStream.schema("event_id long, ts timestamp, k string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    dd = sdf.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    out = run_available_now(dd, "append", "wm_dedup").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r["event_id"])
    assert sorted(by_key["A"]) == [1, 4], by_key  # 2 dropped, 4 re-emitted
    assert by_key["B"] == [5]
    assert by_key["filler"] == [3]
    assert by_key["filler2"] == [6]


def test_streaming_sql_emit_changes_grouped_agg_memory(spark, tmp_path):
    """r14: EMIT CHANGES on a NON-WINDOWED grouped aggregation through the
    streaming-SQL surface (the reference's DEFAULT continuous mode,
    select.rs:490-501) deploys in update output mode — before r14 every
    deploy was append and this shape died in Spark's analyzer. The memory
    sink holds the converged per-group state, which equals the batch
    aggregate over the drained bounded source."""
    from velostream_spark.sql.engine import SqlEngine

    src = str(tmp_path / "ec_in")
    spark.createDataFrame(
        [(1, 5, 10.0), (1, 9, 20.0), (2, 3, 5.0)], "k int, t int, v double"
    ).write.parquet(src)
    e = SqlEngine(spark, time_col="t")
    e.execute_streaming(
        "CREATE STREAM ec_mem AS SELECT k, ROUND(SUM(v), 2) AS sv, "
        "COUNT(*) AS n FROM s GROUP BY k EMIT CHANGES "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet')"
    )
    got = {(r["k"], r["sv"], r["n"]) for r in spark.table("ec_mem").collect()}
    assert got == {(1, 30.0, 2), (2, 5.0, 1)}
    assert e.jobs.jobs["ec_mem"].output_mode == "update"


def test_streaming_sql_emit_changes_windowed_file_changelog(spark, tmp_path):
    """r14: EMIT CHANGES windowed aggregation to a FILE sink goes through
    foreachBatch (Spark file sinks are append-only): each micro-batch's
    updated windows land in their own b<id>/ subdir — the per-batch-delta
    changelog. With maxFilesPerTrigger=1 over two chunks, the touched
    window re-emits with its updated count, and the LAST update per
    window equals the batch aggregate."""
    import datetime as dt

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    base = dt.datetime(2024, 5, 1, 7, 0, 0)
    src = str(tmp_path / "ecw_in")
    os.makedirs(src)
    # chunk 1: two events in the 7:00-7:05 window; chunk 2: one more in
    # the SAME window (forces a re-emission) plus one in 7:05-7:10
    spark.createDataFrame(
        [(1, 0, base), (2, 0, base + dt.timedelta(minutes=1))],
        "event_id int, k int, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, 0, base + dt.timedelta(minutes=2)),
         (4, 0, base + dt.timedelta(minutes=6))],
        "event_id int, k int, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "ecw_out")
    e = SqlEngine(spark, time_col="ts")
    e.execute_streaming(
        "CREATE STREAM ecw AS "
        "SELECT TUMBLE_START() AS ws, k, COUNT(*) AS n FROM s2 GROUP BY k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT CHANGES\n"
        "-- @batch_size: 1\n"
        f"WITH ('s2.type' = 'file_source', 's2.path' = '{src}', "
        "'s2.format' = 'parquet', "
        "'ecw.type' = 'file_sink', 'ecw.format' = 'parquet', "
        f"'ecw.path' = '{out}')"
    )
    assert e.jobs.jobs["ecw"].output_mode == "update"
    rows = _read_fb_sink(spark, out).collect()
    # changelog: the 7:00 window appears at n=2 (batch 0) AND re-emitted
    # at n=3; unlike EMIT FINAL, the trailing open 7:05 window IS visible.
    # TUMBLE_START() emits INT64 epoch-millis (the dialect contract).
    seen = {(r["ws"], r["k"], r["n"]) for r in rows}
    import calendar

    w0 = calendar.timegm(base.timetuple()) * 1000
    w1 = calendar.timegm((base + dt.timedelta(minutes=5)).timetuple()) * 1000
    assert (w0, 0, 2) in seen and (w0, 0, 3) in seen, seen
    assert (w1, 0, 1) in seen
    # last update per window == the batch aggregate
    import collections

    last = {}
    for b in sorted(
        (int(d[1:]) for d in os.listdir(out) if d.startswith("b")),
    ):
        for r in spark.read.parquet(os.path.join(out, f"b{b}")).collect():
            last[(r["ws"], r["k"])] = r["n"]
    assert last == {(w0, 0): 3, (w1, 0): 1}


def test_streaming_sql_emit_final_global_agg_complete(spark, tmp_path):
    """r14: EMIT FINAL on a NON-WINDOWED aggregation maps to complete
    output mode (the reference flushes converged state when the bounded
    source drains, engine.rs:1316); a file sink gets the final state via
    a pointer-flipped snapshot dir (r15: _write_snapshot_atomic)."""
    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    src = str(tmp_path / "ef_in")
    spark.createDataFrame(
        [(1, 5, 10.0), (2, 3, 5.0), (2, 4, 1.0)], "k int, t int, v double"
    ).write.parquet(src)
    out = str(tmp_path / "ef_out")
    e = SqlEngine(spark, time_col="t")
    e.execute_streaming(
        "CREATE STREAM ef AS SELECT ROUND(SUM(v), 2) AS total, COUNT(*) AS n "
        "FROM s3 EMIT FINAL "
        f"WITH ('s3.type' = 'file_source', 's3.path' = '{src}', "
        "'s3.format' = 'parquet', "
        "'ef.type' = 'file_sink', 'ef.format' = 'parquet', "
        f"'ef.path' = '{out}')"
    )
    assert e.jobs.jobs["ef"].output_mode == "complete"
    rows = _read_fb_sink(spark, out).collect()
    assert [(r["total"], r["n"]) for r in rows] == [(16.0, 3)]


def test_select_has_aggregation_masking(spark):
    """The EMIT-mode router's aggregation detector: subquery aggregates
    and literals never count; wrapped top-level aggregates do."""
    from velostream_spark.sql.engine import SqlEngine

    e = SqlEngine(spark)
    assert e._select_has_aggregation("SELECT k, SUM(v) AS s FROM t GROUP BY k")
    assert e._select_has_aggregation("SELECT ROUND(SUM(v), 2) AS s FROM t")
    assert not e._select_has_aggregation(
        "SELECT k FROM t WHERE v > (SELECT MAX(v) FROM t2)"
    )
    assert not e._select_has_aggregation("SELECT k, 'SUM(x)' AS note FROM t")


def test_cte_aggregates_are_statements_own_level(spark):
    """ADVICE r14: a top-level CTE body is part of the statement's own
    level — ``WITH w AS (SELECT ... GROUP BY ...) SELECT * FROM w`` must
    classify has_aggregation=True so EMIT CHANGES deploys update, not a
    silent append. Nested subqueries INSIDE a CTE body stay masked, and
    multi-CTE / column-list / RECURSIVE forms all parse."""
    from velostream_spark.sql.engine import SqlEngine

    e = SqlEngine(spark)
    assert e._select_has_aggregation(
        "WITH w AS (SELECT k, SUM(v) AS s FROM t GROUP BY k) "
        "SELECT * FROM w"
    )
    assert e._select_has_aggregation(
        "WITH a(x) AS (SELECT k FROM t), "
        "b AS (SELECT k, COUNT(*) AS n FROM t GROUP BY k) "
        "SELECT * FROM a JOIN b USING (k)"
    )
    # a subquery nested inside the CTE body is still NOT the statement's
    assert not e._select_has_aggregation(
        "WITH w AS (SELECT k FROM t WHERE v > (SELECT MAX(v) FROM t2)) "
        "SELECT * FROM w"
    )
    # native GROUP BY window() inside a CTE classifies as windowed too
    assert e._select_has_native_window(
        "WITH w AS (SELECT window(ts, '5 minutes') AS win, COUNT(*) AS n "
        "FROM s GROUP BY window(ts, '5 minutes')) SELECT * FROM w"
    )
    # span scanner: exact interiors, unparseable input yields no spans
    spans = e._toplevel_cte_spans("WITH a AS (SELECT 1), b AS (SELECT 2) SELECT 3")
    text = "WITH a AS (SELECT 1), b AS (SELECT 2) SELECT 3"
    assert [text[s:t] for s, t in spans] == ["SELECT 1", "SELECT 2"]
    assert e._toplevel_cte_spans("SELECT 1 FROM t") == []
    assert e._toplevel_cte_spans("WITH a AS (SELECT 1") == []


def test_changelog_pathless_sink_is_diagnosable(spark):
    """ADVICE r14: an update/complete deploy to a file sink WITHOUT a
    'path' option must raise a named error, not a bare KeyError."""
    from velostream_spark.sql.engine import SqlEngine

    with pytest.raises(NotImplementedError, match="'path' option"):
        SqlEngine._changelog_foreach_batch("parquet", {}, "update")
    with pytest.raises(NotImplementedError, match="'path' option"):
        SqlEngine._changelog_foreach_batch("csv", {}, "complete")
    # pathless sinks that natively carry the mode stay supported
    assert SqlEngine._changelog_foreach_batch("memory", {}, "update") is None


def test_native_window_group_by_keeps_final_default(spark):
    """r14 review finding: a statement windowing via Spark-native GROUP BY
    window(ts, ...) (no dialect WINDOW clause, no EMIT) must classify as
    WINDOWED so its default stays EMIT FINAL/append — not flip to the
    non-windowed CHANGES/update default."""
    from velostream_spark.sql.engine import SqlEngine
    from velostream_spark.streaming.emit import output_mode_for

    e = SqlEngine(spark, time_col="ts")
    sql = (
        "SELECT window(ts, '5 minutes').start AS ws, COUNT(*) AS n "
        "FROM s GROUP BY window(ts, '5 minutes')"
    )
    assert e._select_has_native_window(sql)
    assert not e._select_has_native_window("SELECT k, SUM(v) AS s FROM t GROUP BY k")
    # literals and subqueries are masked like every shape check
    assert not e._select_has_native_window("SELECT 'window(x)' AS note FROM t")
    assert output_mode_for(None, has_window=True, has_aggregation=True) == "append"


def test_tfidf_auto_join_route_reuses_probe_totals(spark):
    """r14 review finding: when the router picks the join strategy, its
    per-key probe counts ARE tfidf's df totals — attaching them via
    ``totals`` must equal the derived groupBy, so the reuse is safe."""
    from velostream_spark.operators.skewagg import (
        attach_group_agg,
        choose_group_attach_strategy,
    )

    tf = spark.createDataFrame(
        [(d, "the", 2) for d in range(40)] + [(0, "rare", 1)],
        "doc_id int, word string, tf int",
    )
    s, mx, per_key = choose_group_attach_strategy(tf, ["word"], task_budget_rows=10)
    assert s == "join" and mx == 40
    reused = attach_group_agg(
        tf, ["word"], F.count(F.lit(1)), "df", "join",
        totals=per_key.withColumnRenamed("_c", "df"),
    )
    derived = attach_group_agg(tf, ["word"], F.count(F.lit(1)), "df", "join")
    cols = ["doc_id", "word", "tf", "df"]
    assert sorted(map(tuple, reused.select(*cols).collect())) == sorted(
        map(tuple, derived.select(*cols).collect())
    )


def test_changelog_compaction_bounded_dirs_identical_reads(spark, tmp_path):
    """r14 verdict task 3: 50+ micro-batches through the update-mode
    changelog writer with ``retain=5`` keep the directory count bounded
    (committed b<id>/ dirs fold into consolidated generations via an
    atomic _MANIFEST flip), replays of compacted AND live batch ids stay
    no-ops, and the batch reader's results are IDENTICAL to an
    uncompacted twin's at every step."""
    import os as _os

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    out_c = str(tmp_path / "cl_compact")
    out_u = str(tmp_path / "cl_plain")
    fb_c = SqlEngine._changelog_foreach_batch(
        "parquet", {"path": out_c}, "update", retain=5
    )
    fb_u = SqlEngine._changelog_foreach_batch(
        "parquet", {"path": out_u}, "update"
    )
    expected = []
    for i in range(55):
        df = spark.createDataFrame([(i % 7, i)], "k int, v int").coalesce(1)
        fb_c(df, i)
        fb_u(df, i)
        expected.append((i % 7, i))
        if i == 30:  # replay a long-compacted and a live batch id
            fb_c(spark.createDataFrame([(99, 99)], "k int, v int"), 2)
            fb_c(spark.createDataFrame([(99, 99)], "k int, v int"), 29)
    got_c = sorted(
        (r["k"], r["v"]) for r in _read_fb_sink(spark, out_c).collect()
    )
    got_u = sorted(
        (r["k"], r["v"]) for r in _read_fb_sink(spark, out_u).collect()
    )
    assert got_c == got_u == sorted(expected)
    # bounded layout, CONSTANT in stream length: reachable batches stay
    # under the 2x-retain hysteresis bound, the manifest's generation
    # list under _GEN_MERGE_AT (past it, a cycle merges all generations),
    # and on-disk dirs add at most one cycle of pre-deletion grace —
    # vs the uncompacted twin's one dir per batch forever
    import json as _json

    from velostream_spark.sql.engine import _GEN_MERGE_AT

    man = _json.loads(open(_os.path.join(out_c, "_MANIFEST")).read())
    reachable = [
        n
        for n in _os.listdir(out_c)
        if n.startswith("b") and int(n[1:]) >= man["batches_from"]
    ]
    assert len(reachable) <= 2 * 5 + 1, sorted(reachable)
    assert 1 <= len(man["gens"]) <= _GEN_MERGE_AT, man["gens"]
    disk_b = [n for n in _os.listdir(out_c) if n.startswith("b")]
    gens = [n for n in _os.listdir(out_c) if n.startswith("_gen")]
    assert len(disk_b) + len(gens) <= 35, (sorted(disk_b), gens)
    assert len([n for n in _os.listdir(out_u) if n.startswith("b")]) == 55
    # replayed ids landed exactly once (no rows with k=99 anywhere)
    assert not [r for r in got_c if r[0] == 99]


def test_changelog_retain_with_prop_e2e(spark, tmp_path):
    """The '<name>.changelog.retain' WITH-prop plumbs from the statement
    to the compaction: a multi-batch EMIT CHANGES job to a file sink
    compacts its changelog and the reader still sees the exact deltas."""
    import os as _os

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    src = str(tmp_path / "ret_in")
    for i in range(6):
        spark.createDataFrame(
            [(0, i)], "k int, v int"
        ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "ret_out")
    e = SqlEngine(spark)
    e.execute_streaming(
        "CREATE STREAM retc AS SELECT k, COUNT(*) AS n, SUM(v) AS sv "
        "FROM rsrc GROUP BY k EMIT CHANGES\n"
        "-- @batch_size: 1\n"
        f"WITH ('rsrc.type' = 'file_source', 'rsrc.path' = '{src}', "
        "'rsrc.format' = 'parquet', "
        "'retc.type' = 'file_sink', 'retc.format' = 'parquet', "
        f"'retc.path' = '{out}', 'retc.changelog.retain' = '2')"
    )
    assert e.jobs.jobs["retc"].output_mode == "update"
    rows = sorted(
        (r["n"], r["sv"]) for r in _read_fb_sink(spark, out).collect()
    )
    # 6 per-file batches, each re-emitting the k=0 group's running state
    assert rows == [(1, 0), (2, 1), (3, 3), (4, 6), (5, 10), (6, 15)]
    # a compaction cycle ran: the manifest exists with >=1 generation and
    # the reachable batch window respects the 2x-retain hysteresis
    import json as _json

    man = _json.loads(open(_os.path.join(out, "_MANIFEST")).read())
    assert man["gens"], man
    reachable = [
        n
        for n in _os.listdir(out)
        if n.startswith("b") and int(n[1:]) >= man["batches_from"]
    ]
    assert len(reachable) <= 2 * 2 + 1, sorted(reachable)


def test_complete_mode_snapshot_racing_reader(spark, tmp_path):
    """r14 verdict task 4: a reader looping during a CONTINUOUS
    complete-mode job never observes an empty or partial snapshot — each
    snapshot commits to a fresh hidden dir and the _LATEST pointer flips
    atomically, so every read resolves one fully-converged state
    (invariant here: total == 2*n, with v constant 2.0)."""
    import threading
    import time as _time

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    src = str(tmp_path / "race_in")
    spark.createDataFrame(
        [(0, 2.0)], "k int, v double"
    ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "race_out")
    e = SqlEngine(spark)
    e.execute_streaming(
        "CREATE STREAM racej AS SELECT ROUND(SUM(v), 1) AS total, "
        "COUNT(*) AS n FROM rrc EMIT FINAL "
        f"WITH ('rrc.type' = 'file_source', 'rrc.path' = '{src}', "
        "'rrc.format' = 'parquet', "
        "'racej.type' = 'file_sink', 'racej.format' = 'parquet', "
        f"'racej.path' = '{out}')",
        wait=False,
    )
    assert e.jobs.jobs["racej"].output_mode == "complete"

    # wait for the FIRST snapshot to commit (a sink dir that does not
    # exist yet is "job hasn't produced output", not a torn read)
    deadline = _time.time() + 60
    while not os.path.exists(os.path.join(out, "_LATEST")):
        assert _time.time() < deadline, "first snapshot never committed"
        _time.sleep(0.2)

    stop = threading.Event()
    bad: list = []
    reads = [0]

    def feeder():
        for i in range(1, 12):
            spark.createDataFrame(
                [(i, 2.0)], "k int, v double"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(0.4)
        stop.set()

    t = threading.Thread(target=feeder)
    t.start()
    try:
        while not stop.is_set():
            try:
                rows = _read_fb_sink(spark, out).collect()
            except Exception as exc:  # a listable-but-unreadable state
                bad.append(("read-error", str(exc)[:200]))
                break
            reads[0] += 1
            if len(rows) != 1 or rows[0]["total"] != 2.0 * rows[0]["n"]:
                bad.append(("torn", [tuple(r) for r in rows]))
                break
    finally:
        t.join()
        e.jobs.stop("racej")
    assert not bad, bad
    assert reads[0] >= 10  # the loop genuinely raced the job
    # converged state eventually lands at 12 rows / total 24.0
    final = _read_fb_sink(spark, out).collect()
    assert final[0]["n"] >= 1 and final[0]["total"] == 2.0 * final[0]["n"]


def test_deploy_job_versioned_file_changelog(spark, tmp_path):
    """r14 verdict task 2 (third fail-fast): DEPLOY JOB with EMIT CHANGES
    to a FILE sink versions through deploy_version carrying the changelog
    foreachBatch writer. Both versions target the SAME sink path: each
    version's changelog lands in its own v<version>/ subdir behind the
    _CURRENT pointer — per-version checkpoints restart batch ids at 0,
    so a shared b<id> namespace would silently skip the new version's
    batches as the old version's committed replays (r15 review
    finding)."""
    import os as _os

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    src = str(tmp_path / "vch_in")
    spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3)], "k int, v int"
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "vch_out")
    e = SqlEngine(spark)
    stmt = (
        "DEPLOY JOB vch VERSION '{v}' {strat}AS "
        "SELECT k, {agg} FROM vsrc GROUP BY k EMIT CHANGES "
        f"WITH ('vsrc.type' = 'file_source', 'vsrc.path' = '{src}', "
        "'vsrc.format' = 'parquet', "
        "'vch.type' = 'file_sink', 'vch.format' = 'parquet', "
        f"'vch.path' = '{out}')"
    )
    e.execute_streaming(stmt.format(v="1", strat="", agg="COUNT(*) AS n"))
    job = e.jobs.jobs["vch"]
    assert job.output_mode == "update" and job.foreach_batch is not None
    got = sorted((r["k"], r["n"]) for r in _read_fb_sink(spark, out).collect())
    assert got == [(0, 2), (1, 1)]
    e.execute_streaming(
        stmt.format(v="2", strat="STRATEGY BLUE_GREEN ", agg="SUM(v) AS sv")
    )
    # the reader resolves _CURRENT -> v2's COMPLETE changelog (v2's batch
    # 0 was NOT skipped as v1's committed b0)
    got2 = sorted((r["k"], r["sv"]) for r in _read_fb_sink(spark, out).collect())
    assert got2 == [(0, 3), (1, 3)]
    assert e.jobs.current_version["vch"] == "2"
    assert open(_os.path.join(out, "_CURRENT")).read() == "v2"
    assert sorted(
        n for n in _os.listdir(out) if not n.startswith((".", "_"))
    ) == ["v1", "v2"]


def test_changelog_retain_rejects_non_positive(spark, tmp_path):
    """r15 review finding: retain < 1 would fold the just-written batch
    into a hidden generation a lagging file stream never lists."""
    from velostream_spark.sql.engine import SqlEngine

    src = str(tmp_path / "rr_in")
    spark.createDataFrame([(0, 1)], "k int, v int").write.parquet(src)
    e = SqlEngine(spark)
    with pytest.raises(ValueError, match="changelog.retain"):
        e.execute_streaming(
            "CREATE STREAM rr AS SELECT k, COUNT(*) AS n FROM rrsrc "
            "GROUP BY k EMIT CHANGES "
            f"WITH ('rrsrc.type' = 'file_source', 'rrsrc.path' = '{src}', "
            "'rrsrc.format' = 'parquet', "
            "'rr.type' = 'file_sink', 'rr.format' = 'parquet', "
            f"'rr.path' = '{tmp_path / 'rr_out'}', "
            "'rr.changelog.retain' = '0')"
        )


def test_resolve_pointer_tolerates_midflip(tmp_path):
    """r15 review finding: pointer reads must tolerate the delete+rename
    window of the Hadoop-FS flip (dst briefly missing, <p>.tmp holding
    the NEW value) and distinguish never-written from torn."""
    from velostream_spark.sql.engine import _LocalFs, _resolve_pointer

    fs = _LocalFs()
    p = str(tmp_path / "_CURRENT")
    assert _resolve_pointer(fs, p) is None  # never written -> None
    fs.write_text_atomic(p, "v1")
    assert _resolve_pointer(fs, p) == "v1"
    # mid-flip window with nobody completing the rename: a same-thread
    # resolver waits the spin out and must then RAISE, never fall
    # through to a layout that silently unions every version's data
    os.remove(p)
    with open(p + ".tmp", "w") as f:
        f.write("v2")
    with pytest.raises(IOError):
        _resolve_pointer(fs, p)
    # flip completes -> served again
    os.replace(p + ".tmp", p)
    assert _resolve_pointer(fs, p) == "v2"


def test_versioned_fb_layout_first_commit_flip(spark, tmp_path):
    """r15 review finding: _CURRENT must not point at a version subdir
    that does not exist yet. A NEW version's pointer flips on its first
    committed batch; a version that already has output on disk
    (rollback target, same-version redeploy) flips at deploy time."""
    import os as _os

    from velostream_spark.sql.engine import SqlEngine

    e = SqlEngine(spark)
    parent = str(tmp_path / "vfl")
    cur = _os.path.join(parent, "_CURRENT")
    sub, wrap, post = e._versioned_fb_layout("vflj", "1", {"path": parent})
    assert sub["path"] == _os.path.join(parent, "v1")
    assert not _os.path.exists(cur), "flipped before v1 had any output"
    post()  # deploy succeeded; v1 has no output yet -> still no flip
    assert not _os.path.exists(cur)
    assert e._versioned_sinks["vflj"] == parent
    seen = []
    fb = wrap(lambda df, bid: seen.append(bid))
    fb(None, 0)
    assert seen == [0] and open(cur).read() == "v1"
    # pre-existing subdir (e.g. the version served before): flips at
    # post_deploy time — NOT before the deploy validates (a failed
    # deploy must not repoint readers at a non-serving version)
    _os.makedirs(_os.path.join(parent, "v2"))
    _sub2, _wrap2, post2 = e._versioned_fb_layout(
        "vflj", "2", {"path": parent}
    )
    assert open(cur).read() == "v1", "flipped before deploy succeeded"
    post2()
    assert open(cur).read() == "v2"


def test_fb_sink_readable_during_first_compaction_window(spark, tmp_path):
    """r15 review finding: _gen dirs exist but no _MANIFEST was ever
    flipped (the FIRST compaction cycle is still writing its generation)
    — every b<id>/ is still on disk, so the reader must serve the plain
    per-batch layout instead of spinning out with a torn-pointer
    IOError."""
    import os as _os

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    out = str(tmp_path / "fcw")
    fb = SqlEngine._changelog_foreach_batch(
        "parquet", {"path": out}, "update", retain=5
    )
    for i in range(3):
        fb(spark.createDataFrame([(i,)], "v int").coalesce(1), i)
    # simulate the first cycle mid-write: a _gen dir, no manifest yet
    _os.makedirs(_os.path.join(out, "_gen00000000"))
    got = sorted(r["v"] for r in _read_fb_sink(spark, out).collect())
    assert got == [0, 1, 2]


def test_wait_surfaces_continuous_job_failure(spark, tmp_path):
    """r15 review finding: the drain branch of wait() must re-raise a
    crashed continuous query (the old awaitTermination path did) instead
    of returning cleanly over an empty sink with state='stopped'."""
    src = str(tmp_path / "wf_in")
    df = spark.createDataFrame([(1, 1.0)], "event_id int, value double")
    df.write.parquet(src)
    mgr = StreamJobManager(spark, checkpoint_root=str(tmp_path / "wf_ck"))

    def build():
        return stream_parquet(spark, src, schema=df.schema)

    def boom(batch_df, batch_id):
        raise RuntimeError("sink exploded")

    mgr.deploy(
        "wfail", build, sink_format="parquet",
        sink_options={"path": str(tmp_path / "wf_out")},
        output_mode="append", foreach_batch=boom,
        trigger={"processingTime": "0 seconds"},
    )
    with pytest.raises(Exception, match="sink exploded|StreamingQuery"):
        mgr.wait("wfail", timeout_s=60)
    assert mgr.jobs["wfail"].state == "failed"


def test_versioned_native_file_sink_same_path_rejected(spark, tmp_path):
    """A second VERSION of a job writing a NATIVE append file sink to
    the SAME directory would have its restarted batch ids silently
    skipped by Spark's _spark_metadata commit log (the native-sink twin
    of the shared-b<id> bug) — deploy_version must fail fast and name
    the fix; a distinct per-version path stays fine."""
    src = str(tmp_path / "nfs_in")
    df = spark.createDataFrame([(1, 1.0)], "event_id int, value double")
    df.write.parquet(src)
    mgr = StreamJobManager(spark, checkpoint_root=str(tmp_path / "nfs_ck"))

    def build():
        return stream_parquet(spark, src, schema=df.schema)

    shared = str(tmp_path / "nfs_out")
    mgr.deploy_version(
        "nfs", "1", build, sink_format="parquet",
        sink_options={"path": shared}, output_mode="append",
    )
    mgr.wait("nfs")
    with pytest.raises(ValueError, match="_spark_metadata|own sink path"):
        mgr.deploy_version(
            "nfs", "2", build, sink_format="parquet",
            sink_options={"path": shared}, output_mode="append",
        )
    # a trailing-slash / file:// alias of the same directory must not
    # slip past the guard
    with pytest.raises(ValueError, match="_spark_metadata|own sink path"):
        mgr.deploy_version(
            "nfs", "2", build, sink_format="parquet",
            sink_options={"path": "file://" + shared + "/"},
            output_mode="append",
        )
    # same VERSION redeploy of the same path is legitimate (the version
    # keeps its checkpoint, so batch ids never collide) ...
    mgr.deploy_version(
        "nfs", "1", build, sink_format="parquet",
        sink_options={"path": shared}, output_mode="append",
    )
    mgr.wait("nfs")
    # ... and a per-version path deploys clean
    mgr.deploy_version(
        "nfs", "2", build, sink_format="parquet",
        sink_options={"path": str(tmp_path / "nfs_out_v2")},
        output_mode="append",
    )
    mgr.wait("nfs")
    assert mgr.current_version["nfs"] == "2"
