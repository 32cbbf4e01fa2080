"""Interleaved same-session A/B of two catalog arms, timed by bench.py's own
loop (``bench.time_entry``: derive once, execute N times to the noop sink).

    python tools/ab.py ENTRY [ENTRY_B] [--pairs 10] [--runs 4]
        [--a-conf K=V ...] [--b-conf K=V ...] [--a-dir DIR] [--b-dir DIR]

An arm is an entry name, the spark.conf settings it runs under and its
input directory ($SPARK_GRAFT_SF_DIR by default, as for bench.py). ENTRY_B
defaults to ENTRY, so two arms may differ only by conf or input. A DIR of
the form NAME:ARG is generated once by tools/fixtures.py (``zipf:320000``,
``pool:1``, ...) under a scratch dir removed at exit.

Both arms run in every pair, alternating which goes first, so machine
drift hits both equally. Each pair's figure for an arm is the median of
its N runs (the bench's per-entry figure); the report gives each arm's
median and IQR over pairs, the pairs it won and the machine's steal %.

When both arms have the same oracle SQL over the same input directory,
their results must be the same rows, order-insensitive; the tool raises
if they are not.

    python tools/ab.py tfidf_topk_terms tfidf_topk_terms_join --pairs 10
    python tools/ab.py bpe_encode --b-dir pool:1
    python tools/ab.py approx_count_distinct --b-conf spark.sql.adaptive.enabled=false
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import statistics
import sys
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


@dataclass
class Arm:
    entry: str
    sf_dir: str
    conf: dict[str, str] = field(default_factory=dict)
    #: per-pair medians of this arm's run walls
    walls: list[float] = field(default_factory=list)


def same_rows(a, b) -> int:
    """Raise unless the pandas frames ``a`` and ``b`` hold the same rows,
    order-insensitive — the oracle gate's compare, with arm A in its
    "spark" slot and arm B in its "oracle" slot. Returns the row count."""
    from tests.oracle import compare_frames

    problems = compare_frames(a, b)
    if problems:
        raise AssertionError("arms differ: " + "; ".join(problems))
    return len(a)


@contextlib.contextmanager
def conf_scope(spark, conf: dict[str, str]):
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_ab(spark, catalog, a: Arm, b: Arm, pairs: int, runs: int) -> int | None:
    """Time ``pairs`` interleaved pairs; returns the checked row count, or
    None when the arms' oracles differ (no row check applies)."""
    oracle_a, oracle_b = catalog[a.entry].oracle, catalog[b.entry].oracle
    check = oracle_a is not None and oracle_a == oracle_b and a.sf_dir == b.sf_dir
    collected: dict = {}
    for i in range(pairs):
        for arm in (a, b) if i % 2 == 0 else (b, a):
            with conf_scope(spark, arm.conf):
                t = bench.time_entry(spark, catalog, arm.entry, arm.sf_dir, runs)
                arm.walls.append(statistics.median(t.walls))
                if check and i == 0:
                    collected[id(arm)] = t.df.toPandas()
            spark.catalog.clearCache()
    return same_rows(collected[id(a)], collected[id(b)]) if check else None


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(a: Arm, b: Arm, rows: int | None, steal: float) -> str:
    wins_a = sum(x < y for x, y in zip(a.walls, b.walls))
    wins_b = sum(y < x for x, y in zip(a.walls, b.walls))
    lines = []
    for label, arm, won in (("A", a, wins_a), ("B", b, wins_b)):
        q1, q3 = _quartiles(arm.walls)
        conf = " ".join(f"{k}={v}" for k, v in arm.conf.items())
        lines.append(
            f"{label} {arm.entry} [{arm.sf_dir}{' ' + conf if conf else ''}]: "
            f"median {statistics.median(arm.walls):.3f} s, IQR {q1:.3f}-{q3:.3f}, "
            f"won {won}/{len(arm.walls)}"
        )
    check = "not checked (different oracles or inputs)" if rows is None else f"same ({rows})"
    lines.append(f"rows: {check}; steal {steal:.2f} %")
    return "\n".join(lines)


def _conf_pair(s: str) -> tuple[str, str]:
    k, sep, v = s.partition("=")
    if not (k and sep):
        raise argparse.ArgumentTypeError(f"expected K=V, got {s!r}")
    return k, v


def main(argv=None, spark=None) -> tuple[Arm, Arm, int | None]:
    from perfbench.run import cpu_ticks
    from tools.fixtures import FIXTURES
    from velostream_spark.registry import all_queries
    from velostream_spark.session import get_session

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("entry")
    p.add_argument("entry_b", nargs="?")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--runs", type=int, default=4)
    for arm in "ab":
        p.add_argument(
            f"--{arm}-conf", action="append", default=[], type=_conf_pair, metavar="K=V"
        )
        p.add_argument(f"--{arm}-dir", default=bench.SF_DIR, metavar="DIR")
    args = p.parse_args(argv)
    catalog = all_queries()
    for name in (args.entry, args.entry_b):
        if name is not None and name not in catalog:
            raise SystemExit(f"not a catalog entry: {name}")

    ticks0 = cpu_ticks()
    spark = spark or get_session("velostream-spark-ab")
    root = bench.scratch_root("vs-ab-")
    try:
        dirs: dict[str, str] = {}
        for spec in (args.a_dir, args.b_dir):
            name, _, arg = spec.partition(":")
            if spec not in dirs:
                dirs[spec] = (
                    FIXTURES[name](spark, bench.SF_DIR, int(arg), root)
                    if name in FIXTURES else spec
                )
        a = Arm(args.entry, dirs[args.a_dir], dict(args.a_conf))
        b = Arm(args.entry_b or args.entry, dirs[args.b_dir], dict(args.b_conf))
        # warmup: JVM, codegen, parquet footer caches (as bench.py)
        catalog["group_by_agg"].fn(spark, a.sf_dir).count()
        rows = run_ab(spark, catalog, a, b, args.pairs, args.runs)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(report(a, b, rows, bench.steal_pct(ticks0, cpu_ticks())))
    return a, b, rows


if __name__ == "__main__":
    main()
