"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench/selftest -q
"""

from __future__ import annotations

import decimal
import filecmp
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def _avro_sink_rows(ref):
    """The sink rows a correct engine writes for ``ref`` (symbol -> row)."""
    return {
        s: {"symbol": s, "n": n, "notional": decimal.Decimal(v).scaleb(-4)}
        for s, n, v in ref
    }


def test_checker_accepts_truth_and_rejects_drop_and_decimal_off_by_one_unit():
    trades = gen.trades_table(seed=7, rows=5000, span_s=600.0)
    ref = check.avro_reference(trades)
    assert len(ref) > 10

    good = _avro_sink_rows(ref)
    attempted, failed = check.multiset_diff(ref, check.avro_rows(good))
    assert (attempted, failed) == (len(ref), 0)

    bad = _avro_sink_rows(ref)
    dropped, shifted = ref[0][0], ref[1][0]
    del bad[dropped]
    bad[shifted]["notional"] += decimal.Decimal("0.0001")
    attempted, failed = check.multiset_diff(ref, check.avro_rows(bad))
    # the dropped row is missing; the shifted one is missing and extra
    assert failed == 3 and attempted == len(ref) + 1


def test_latency_reducer_known_percentiles():
    # job walls 0.1 .. 1.0 s, stamped as (deploy call, drained) pairs and
    # given out of order: the reducer sorts, and interpolates between ranks
    stamps = [(100.0 + k, 100.0 + k + k / 10) for k in (7, 2, 10, 5, 1, 9, 4, 8, 3, 6)]
    walls = [end - start for start, end in stamps]
    assert check.percentile(walls, 50) == pytest.approx(0.55, abs=1e-9)
    assert check.percentile(walls, 90) == pytest.approx(0.91, abs=1e-9)
    assert check.percentile([0.3], 50) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        check.percentile([], 50)


@pytest.mark.parametrize("kind,args", [
    ("avro", ["--rows", "3000", "--files", "2"]),
    ("docs", ["--docs", "400"]),
])
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind, args):
    def run(seed, name):
        out = tmp_path / name
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind,
                        "--seed", str(seed), "--out", str(out), *args],
                       check=True, cwd=tmp_path, timeout=120)
        return out

    a, b, c = run(11, "a"), run(11, "b"), run(12, "c")
    names = sorted(os.listdir(a))
    assert names and names == sorted(os.listdir(b))
    assert not any(n.startswith(".") for n in names)  # no temp file left behind
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert filecmp.cmpfiles(a, c, names, shallow=False)[0] != names
