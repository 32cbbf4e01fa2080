"""The bench stdout contract: ONE JSON line, hard-budgeted under the
driver's 2000-char stdout tail (bench.LINE_BUDGET = 1700 with headroom).

These tests exercise the degrade ladder (3-decimal -> 2-decimal -> elide
smallest) and prove the line survives the driver's tail slicing — the
round-8 failure mode was a 52-entry line outgrowing the tail, truncating
its head and nulling the official parse.
"""

import json

from bench import LINE_BUDGET, compact_stdout_line

DRIVER_TAIL = 2000  # the driver captures stdout[-2000:]


def _mk_times(n, name_len=18):
    # Realistic entry names (~18 chars) and sub-second to multi-second walls.
    return {f"q{str(i).zfill(3)}_{'x' * (name_len - 5)}": (i % 40) / 7 + 0.103 for i in range(n)}


def _parse_after_driver_tail(line):
    """Simulate the driver: capture only the LAST 2000 chars of stdout
    (the line plus whatever preceded it) and parse the final line."""
    stdout = "some earlier warning noise\n" * 40 + line + "\n"
    tail = stdout[-DRIVER_TAIL:]
    last = [l for l in tail.splitlines() if l.strip()][-1]
    return json.loads(last)


def test_small_catalog_keeps_three_decimals():
    times = {"group_by_agg": 0.123, "select_where": 0.456}
    line = compact_stdout_line(0.579, times, [], 0, 0.1)
    assert len(line) <= LINE_BUDGET
    d = json.loads(line)
    assert d["queries"]["group_by_agg"] == 0.123
    assert "queries_elided" not in d
    assert "derive_flagged" not in d  # empty alarm is omitted


def test_flagged_entries_always_surface():
    line = compact_stdout_line(1.0, {"a": 1.0}, ["a"], 0, 0.1)
    assert json.loads(line)["derive_flagged"] == ["a"]


def test_medium_catalog_degrades_to_two_decimals():
    # 70 x 14-char names: 3-decimal overflows 1700, 2-decimal fits — the
    # middle rung keeps EVERY wall on stdout at reduced precision.
    times = _mk_times(70, name_len=14)
    line = compact_stdout_line(sum(times.values()), times, [], 9, 0.1)
    assert len(line) <= LINE_BUDGET
    d = json.loads(line)
    assert len(d["queries"]) == 70  # all walls still on stdout
    assert "queries_elided" not in d
    for v in d["queries"].values():
        assert round(v, 2) == v  # 2-decimal degrade engaged


def test_huge_catalog_elides_smallest_and_declares_cut():
    times = _mk_times(400)
    line = compact_stdout_line(sum(times.values()), times, [], 0, 0.1)
    assert len(line) <= LINE_BUDGET
    d = json.loads(line)
    assert d["queries_elided"] == 400 - len(d["queries"]) > 0
    assert d["n_queries"] == 400
    # the kept walls are the LARGEST — the rows baseline comparison needs
    kept_min = min(d["queries"].values())
    elided = set(times) - set(d["queries"])
    assert all(round(times[q], 2) <= kept_min for q in elided)


def test_line_survives_driver_tail_truncation():
    # Every ladder rung must parse after the driver keeps stdout[-2000:].
    for n in (2, 72, 400, 4000):
        times = _mk_times(n)
        line = compact_stdout_line(sum(times.values()), times, [], 3, 0.1)
        assert len(line) <= LINE_BUDGET
        d = _parse_after_driver_tail(line)
        assert d["metric"] == "headline_queries_total_wall"
        assert set(d) >= {"metric", "value", "unit", "queries", "sf"}


def test_real_catalog_names_headroom():
    # The REAL headline names plus five hypothetical additions: the line
    # must stay under budget, and when the elision rung engages it keeps
    # the promise of compact_stdout_line — only the SMALLEST walls go, the
    # largest (the baseline-comparison rows) always survive, and the cut
    # is declared exactly.
    import bench as bench_mod

    names = list(bench_mod.HEADLINE) + [
        "bigram_lm_score_v2",
        "hypertable_rollup_approx",
        "dialect_asof_select",
        "future_entry_one",
        "future_entry_two",
    ]
    assert len(set(names)) > 90  # the real names, not their first letters
    times = {n: (i % 40) / 13 + 0.107 for i, n in enumerate(names)}
    line = compact_stdout_line(sum(times.values()), times, [], 9, 0.1)
    assert len(line) <= LINE_BUDGET
    d = json.loads(line)
    kept = d["queries"]
    elided = set(times) - set(kept)
    assert d.get("queries_elided", 0) + len(kept) == d.get("n_queries", len(times))
    assert d.get("n_queries", len(times)) == len(times)
    if elided:
        assert min(kept.values()) >= max(round(times[q], 2) for q in elided)
    top10 = sorted(times, key=lambda q: -times[q])[:10]
    assert all(q in kept for q in top10)
