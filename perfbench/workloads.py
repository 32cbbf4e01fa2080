"""The benchmark's workloads and the session protocol around them.

Each workload calls the engine only through its public entry points
(``SqlEngine.execute_streaming``, ``StreamJobManager.wait/stop``, the
registry's ``curation_pipeline`` entry), reads Spark's public
``StreamingQuery.recentProgress``, and checks every output it times against
a DuckDB reference (``check.py``).

Protocol of one run (``run_workload``):

1. start the input generators, each in its own process;
2. set up ``SETUP_REPS`` times: ``get_session`` (a fresh SparkContext from
   the second time on, in the same JVM) plus one warm-up job on a small
   input; ``setup_s`` is the median of the warm set-ups, the ones after the
   first, so the JVM launch, the cold first job and the DuckDB reference
   paid once per process stay out of it;
3. measure for ``--seconds`` on the last session, then check the outputs;
4. traced runs only: measure again on a fresh session with the event log
   on, reduce progress and event log to per-layer figures, and run one job
   at ``local[1]`` as the single-core baseline.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import check
import gen
import tracing

SETUP_REPS = 3
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")


def warm_seed(seed: int) -> int:
    """Seed of the warm-up input: different data, same shape."""
    return seed + 1_000_003


@dataclass
class Ctx:
    work: str
    seed: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def gen(self, kind: str, out: str, *args: str, seed: int | None = None) -> subprocess.Popen:
        cmd = [sys.executable, GEN, kind, "--seed", str(self.seed if seed is None else seed),
               "--out", out, *args]
        return subprocess.Popen(cmd, cwd=self.work)


@dataclass
class Phase:
    """One measured phase: per-sample latencies and the outputs' check."""

    walls: list[float]
    rows_per_s: float
    progress: list[list[dict]] = field(default_factory=list)
    t0_ms: int = 0
    t1_ms: int = 0
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)


def now_ms() -> int:
    return time.time_ns() // 1_000_000


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def wait_all(procs: list[subprocess.Popen], timeout: float = 120.0) -> None:
    for p in procs:
        if p.wait(timeout=timeout) != 0:
            raise RuntimeError(f"generator failed: {p.args}")


def sample_loop(run_one, seconds: float, min_reps: int, settle: int):
    """Run ``settle`` untimed samples, then timed ones until ``seconds``
    have passed (at least ``min_reps``); a sample is started only if one
    as long as the median so far still ends inside the window.
    ``run_one(i)`` returns a dict with the sample's ``wall``, or None when
    its job failed. Returns (samples, failed jobs, window start/end ms)."""
    done: list[dict] = []
    failures = 0
    t0_ms = start = None
    while True:
        if start is None and len(done) == settle:
            t0_ms, start = now_ms(), time.perf_counter()
        if start is not None and len(done) >= settle + min_reps:
            walls = [d["wall"] for d in done[settle:]]
            if time.perf_counter() - start + statistics.median(walls) > seconds:
                break
        sample = run_one(len(done) + failures)
        if sample is not None:
            done.append(sample)
        else:
            failures += 1
            if failures > 2 * (settle + min_reps):
                break
    return done, failures, t0_ms, now_ms()


class AvroDecodeAgg:
    """Bounded drain (``availableNow``) of Avro-binary values decoded
    through the file schema registry (decimal(19,4) price) into an
    exact-decimal aggregation. Each sample deploys a fresh job over the same
    backlog and waits for it to drain; the sample is the wall of that call."""

    name = "avro_decode_agg"
    #: untimed (but checked) full-size samples before the timed window: the
    #: first jobs over the full input on a fresh SparkContext run slower
    #: than the rest (3.1 s falling to 2.7 s on 4 cores), and would
    #: otherwise decide the median
    settle = 2
    rows = 200_000
    files = 16
    warm_rows = 10_000
    warm_files = 8  # as many Python workers as the timed drains start
    span_s = 1800.0  # event-time span of the backlog
    subject = "trades-value"

    def __init__(self):
        self._ref: list[tuple] | None = None

    def prepare(self, ctx: Ctx) -> list[subprocess.Popen]:
        from velostream_spark.sources.schema_registry import FileSchemaRegistry

        FileSchemaRegistry(ctx.path("registry")).register(
            self.subject, json.dumps(gen.AVRO_SCHEMA))
        span = ["--span-s", str(self.span_s)]
        return [
            ctx.gen("avro", ctx.path("input"), "--rows", str(self.rows),
                    "--files", str(self.files), *span),
            ctx.gen("avro", ctx.path("warm"), "--rows", str(self.warm_rows),
                    "--files", str(self.warm_files), *span, seed=warm_seed(ctx.seed)),
        ]

    def sql(self, ctx: Ctx, job: str, src: str, out: str) -> str:
        return f"""
            CREATE STREAM {job} AS
            SELECT symbol, COUNT(*) AS n, SUM(price * qty) AS notional
            FROM trades_avro
            GROUP BY symbol
            WITH ('trades_avro.type' = 'file_source', 'trades_avro.path' = '{src}',
                  'trades_avro.format' = 'avro',
                  'trades_avro.avro.schema.registry.path' = '{ctx.path("registry")}',
                  'trades_avro.avro.schema.subject' = '{self.subject}',
                  '{job}.type' = 'file_sink', '{job}.path' = '{out}',
                  '{job}.format' = 'parquet')
        """

    def precompute(self, ctx: Ctx) -> None:
        trades = gen.trades_table(ctx.seed, self.rows, self.span_s)
        self._ref = check.avro_reference(trades)

    @staticmethod
    def engine(spark):
        from velostream_spark.sql.engine import SqlEngine

        return SqlEngine(spark, time_col="ts")

    def warm_up(self, spark, ctx: Ctx, tag: str) -> None:
        job = f"av_warm_{tag}"
        self.engine(spark).execute_streaming(
            self.sql(ctx, job, ctx.path("warm"), ctx.path("out", job)))

    def measure(self, spark, ctx: Ctx, seconds: float, tag: str, min_reps: int = 2,
                settle: int | None = None) -> Phase:
        settle = self.settle if settle is None else settle
        eng = self.engine(spark)

        def run_one(i: int) -> dict | None:
            job = f"av_{tag}_{i}"
            out = ctx.path("out", job)
            call_ms = now_ms()
            t = time.perf_counter()
            try:
                handle = eng.execute_streaming(self.sql(ctx, job, ctx.path("input"), out))
            except Exception as exc:  # a failed job is a result: count it, go on
                print(f"job {job} failed: {exc!r}", file=sys.stderr)
                return None
            wall = time.perf_counter() - t
            end_ms = now_ms()
            p = progress_of(handle.query)
            t = time.perf_counter()
            eng.jobs.stop(job)
            first = tracing.iso_ms(p[0]["timestamp"]) if p else end_ms
            return {"wall": wall, "stop": time.perf_counter() - t, "progress": p, "out": out,
                    "deploy": (first - call_ms) / 1000, "drain": (end_ms - first) / 1000}

        samples, failed, t0_ms, t1_ms = sample_loop(run_one, seconds, min_reps, settle)
        attempted = failed
        for d in samples:  # settling samples are checked too
            last = check.last_update_per_key(check.changelog_batches(d["out"]), "symbol")
            a, f = check.multiset_diff(self._ref, check.avro_rows(last))
            attempted += a
            failed += f
        timed = samples[settle:]
        if not timed:
            raise RuntimeError(f"{self.name}: every job failed")
        walls = [d["wall"] for d in timed]
        return Phase(
            walls=walls,
            rows_per_s=self.rows / statistics.median(walls),
            progress=[d["progress"] for d in timed], t0_ms=t0_ms, t1_ms=t1_ms,
            attempted=attempted, failed=failed,
            layers={
                "engine.deploy_s": statistics.median(d["deploy"] for d in timed),
                "jobs.drain_s": statistics.median(d["drain"] for d in timed),
                "jobs.stop_s": statistics.median(d["stop"] for d in timed),
                "sink.batches": statistics.fmean(
                    len(check.changelog_batches(d["out"])) for d in timed),
                "gen.rows": self.rows,
                "gen.files": self.files,
                "source.backlog_files": self.files,
            },
        )

    def decode_rows_per_s(self, ctx: Ctx, n: int = 20_000) -> float:
        """``AvroBinaryCodec.decode`` in this process, no Spark involved."""
        from velostream_spark.sources.avro_binary import AvroBinaryCodec

        values = check.read_parquet_dir(ctx.path("input")).column("value").to_pylist()[:n]
        codec = AvroBinaryCodec(json.dumps(gen.AVRO_SCHEMA))
        t = time.perf_counter()
        for v in values:
            codec.decode(v)
        return len(values) / (time.perf_counter() - t)


class DocCuration:
    """The catalog's ``curation_pipeline`` entry over a generated
    ``documents.parquet``, collected into pandas each sample."""

    name = "doc_curation"
    #: the pipeline keeps getting faster over its first runs in a JVM
    settle = 4
    #: at 5 000 documents the executors were busy for about a third of each
    #: 1.5 s run, the rest being driver-side planning and scheduling, and the
    #: run speed differed by up to 30 % between JVMs; 20 000 documents put
    #: most of a run into the executors
    docs = 20_000
    warm_docs = 1500

    def __init__(self):
        self._ref = None

    def prepare(self, ctx):
        return [ctx.gen("docs", ctx.path("input"), "--docs", str(self.docs)),
                ctx.gen("docs", ctx.path("warm"), "--docs", str(self.warm_docs),
                        seed=warm_seed(ctx.seed))]

    def precompute(self, ctx):
        self._ref = check.curation_reference(self.entry().oracle, ctx.path("input"))

    @staticmethod
    def entry():
        from velostream_spark.registry import all_queries

        return all_queries()["curation_pipeline"]

    def warm_up(self, spark, ctx, tag):
        self.entry().fn(spark, ctx.path("warm")).toPandas()

    def measure(self, spark, ctx, seconds, tag, min_reps=2, settle=None):
        from tests.oracle import compare_frames

        settle = self.settle if settle is None else settle
        entry = self.entry()

        def run_one(i: int) -> dict:
            t = time.perf_counter()
            result = entry.fn(spark, ctx.path("input")).toPandas()
            return {"wall": time.perf_counter() - t, "result": result}

        samples, _, t0_ms, t1_ms = sample_loop(run_one, seconds, min_reps, settle)
        attempted = failed = 0
        for d in samples:
            a, f = check.check_frames(d["result"], self._ref, compare_frames)
            attempted += a
            failed += f
        walls = [d["wall"] for d in samples[settle:]]
        return Phase(walls=walls, rows_per_s=self.docs / statistics.median(walls),
                     t0_ms=t0_ms, t1_ms=t1_ms, attempted=attempted, failed=failed,
                     layers={"gen.rows": self.docs, "gen.files": 1,
                             "source.backlog_files": 1})


WORKLOADS = {w.name: w for w in (AvroDecodeAgg, DocCuration)}
