"""Streaming-SQL benchmark for velostream-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace
0``, its per-layer metrics with ``--trace 1``). Each run also writes a
stamped record (nproc, git HEAD, seed, steal %) to
``.bench_work/runs/``. All generated data, checkpoints, sinks, Spark
scratch space and temp files live under ``.bench_work/`` inside the
checkout; the run's own data is removed when it ends, and data left by a
killed run is removed when the next run starts. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: JVM heap, also its initial size (-Xms): a heap that grows on demand left
#: peak RSS bimodal (1.1 or 1.45 GB) depending on when it happened to grow
DRIVER_MEM = "1g"


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def git_head(root: str) -> str:
    """HEAD commit when the checkout is a git work tree, else 'unknown'."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def remove_stale_work(base: str) -> None:
    """Remove the work directories of runs that were killed before they
    could clean up: the pid their name ends with is gone."""
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if name != "runs" and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def hermetic_env(work: str, nproc: int) -> None:
    """Before any Spark import: workers import the package from ROOT
    whatever their cwd, and every temp/scratch path points into ``work``."""
    for d in ("tmp", "spark-local", "out", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def session(work: str, event_log: bool = False):
    from velostream_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session("perfbench", **conf)


def stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it and its children."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    family = []
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        family.append(pid)
        todo += children(pid)
    gw.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in family[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dialect_parse_ms(sql: str, reps: int = 50) -> float:
    from velostream_spark.sql.dialect import parse_statement

    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        parse_statement(sql, "ts")
        walls.append(time.perf_counter() - t)
    return statistics.median(walls) * 1000


def end_to_end(setups: list[float], phase) -> dict[str, float]:
    """``setups``: the warm set-up walls; ``phase``: the measured samples.
    ``latency_p50_s`` is the median wall of one job, from the deploy call to
    the drained, collected result."""
    import check

    return {
        "setup_s": statistics.median(setups),
        "rows_per_s": phase.rows_per_s,
        "latency_p50_s": check.percentile(phase.walls, 50),
    }


def run_workload(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    import tracing
    import workloads

    wl = workloads.WORKLOADS[name]()
    ctx = workloads.Ctx(work=work, seed=seed)
    procs = wl.prepare(ctx)
    try:
        setups = []
        refs = None
        for rep in range(workloads.SETUP_REPS):
            t = time.perf_counter()
            spark = session(work)
            if rep == 0:
                workloads.wait_all(procs)
                if hasattr(wl, "precompute"):
                    # the DuckDB reference, while the first (cold) set-up runs
                    refs = threading.Thread(target=wl.precompute, args=(ctx,))
                    refs.start()
            wl.warm_up(spark, ctx, f"s{rep}")
            if refs is not None:
                refs.join()
            setups.append(time.perf_counter() - t)
            if rep < workloads.SETUP_REPS - 1:
                spark.stop()
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    phase = wl.measure(spark, ctx, seconds, "m")
    spark.stop()
    e2e = end_to_end(setups[1:], phase)
    attempted, failed = phase.attempted, phase.failed
    layers = dict(phase.layers)
    layers.update(tracing.progress_layers(phase.progress))
    layers["setup_walls_s"] = setups
    layers["sample_walls_s"] = phase.walls
    if traced:
        spark = session(work, event_log=True)
        wl.warm_up(spark, ctx, "t")
        tph = wl.measure(spark, ctx, seconds, "t")
        spark.stop()  # flushes the event log
        attempted += tph.attempted
        failed += tph.failed
        events = os.path.join(work, "events")
        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        n_jobs = len(tph.progress) or len(tph.walls)
        layers.update(tracing.progress_layers(tph.progress))
        layers.update(tracing.eventlog_layers(tracing.read_eventlog(log), tph.t0_ms,
                                              tph.t1_ms, n_jobs, tph.progress))
        layers.update(tph.layers)
        t_e2e = end_to_end(setups[1:], tph)
        for k in ("rows_per_s", "latency_p50_s"):
            layers[f"trace.overhead.{k}"] = t_e2e[k] - e2e[k]
        if isinstance(wl, workloads.AvroDecodeAgg):  # the SQL and Avro workload
            layers["dialect.parse_ms"] = dialect_parse_ms(wl.sql(ctx, "job", "input", "out"))
            layers["python.decode_rows_per_s"] = wl.decode_rows_per_s(ctx)
        # the same job once on one core: the single-core baseline
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = session(work)
        wl.warm_up(spark, ctx, "b")
        base = wl.measure(spark, ctx, 0, "b", min_reps=1, settle=0)
        spark.stop()
        attempted += base.attempted
        failed += base.failed
        layers["baseline.local1_rows_per_s"] = base.rows_per_s
    layers["rss.python_mb"] = vm_hwm_mb(os.getpid())
    layers["rss.jvm_mb"] = sum(vm_hwm_mb(c) for c in children(os.getpid()))
    e2e["peak_rss_mb"] = layers["rss.python_mb"] + layers["rss.jvm_mb"]
    layers["error_rate"] = failed / attempted if attempted else 1.0
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="velostream-spark streaming-SQL benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "velostream_spark", "__init__.py")):
        print(f"no velostream_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    runs = os.path.join(ROOT, ".bench_work", "runs")
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    os.makedirs(runs, exist_ok=True)
    remove_stale_work(os.path.dirname(runs))
    hermetic_env(work, nproc)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    ticks0 = cpu_ticks()
    started = time.time()
    try:
        res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    dt_all = ticks1[0] - ticks0[0]
    steal = 100.0 * (ticks1[1] - ticks0[1]) / dt_all if dt_all else 0.0
    layers = res["layers"]
    layers.update({"stamp.nproc": nproc, "stamp.steal_pct": steal})
    if a.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "nproc": nproc, "git_head": git_head(ROOT), "steal_pct": round(steal, 3),
             "started_unix": started, "wall_s": round(time.time() - started, 3)}
    record = {"stamp": stamp, "end_to_end": res["e2e"], "per_layer": layers,
              "attempted": res["attempted"], "failed": res["failed"]}
    with open(os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{int(started)}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(f"# stamp {json.dumps(stamp, sort_keys=True)}")
    if not a.trace:  # reads 0 on a correct run, so it is not an end-to-end metric
        print(f"# error_rate = {layers['error_rate']:.6g} ratio")
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
