"""Decompose the stateless streaming-job floor (r15 verdict task 1) using
the engine's own progress metrics: for a passthrough availableNow job,
print every micro-batch's durationMs breakdown (triggerExecution =
latestOffset + getBatch + queryPlanning + walCommit + addBatch +
commitOffsets) plus the wall-clock segments AROUND the streaming query —
start() overhead, awaitTermination tail, sink read-back — so the 0.64 s
floor is attributed instead of guessed.

Usage: SPARK_GRAFT_SF_DIR=... python tools/stream_floor_decompose.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from velostream_spark.session import get_session, load_tables  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    spark = get_session("stream-floor-decompose")
    from velostream_spark.streaming.runner import (
        _scratch_dir,
        _unique,
        bounded_run_scope,
    )
    from velostream_spark.streaming.source import stream_table

    t = load_tables(spark, SF_DIR, register_views=False)
    t["events"].groupBy("event_type").count().write.format("noop").mode(
        "overwrite"
    ).save()  # warmup

    segs: dict[str, list[float]] = {}
    batch_durs: list[dict] = []

    def seg(name: str, w: float) -> None:
        segs.setdefault(name, []).append(w)

    for i in range(6):
        t_all0 = time.perf_counter()
        sdf = stream_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "value"
        )
        name = _unique("floor_decomp")
        ckpt = _scratch_dir(f"vs-ckpt-{name}-")
        out_dir = _scratch_dir(f"vs-out-{name}-")
        with bounded_run_scope(sdf):
            t0 = time.perf_counter()
            q = (
                sdf.writeStream.format("parquet")
                .option("path", out_dir)
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            t1 = time.perf_counter()
        q.awaitTermination(300)
        t2 = time.perf_counter()
        seg("start()", t1 - t0)
        seg("await", t2 - t1)
        prog = q.recentProgress
        if i > 0:  # skip the cold run in the medians
            for p in prog:
                batch_durs.append(dict(p["durationMs"]))
        seg("n_batches", float(len(prog)))
        t3 = time.perf_counter()
        out = spark.read.schema(sdf.schema).parquet(out_dir)
        out.write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
        seg("sink read-back+noop", t4 - t3)
        seg("TOTAL", t4 - t_all0)

    for k, ws in segs.items():
        ws2 = ws[1:]  # drop cold run
        print(
            f"{k:24s} med={statistics.median(ws2):7.3f} "
            f"walls={[round(w, 3) for w in ws]}",
            flush=True,
        )
    keys = sorted({k for d in batch_durs for k in d})
    print("\nper-batch durationMs (cold run excluded):")
    for k in keys:
        vals = [d.get(k, 0) for d in batch_durs]
        print(f"  {k:22s} med={statistics.median(vals):7.1f} vals={vals}")
    spark.stop()


if __name__ == "__main__":
    main()
