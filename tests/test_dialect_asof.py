"""Dialect surface for the time-series joins: DuckDB-syntax ASOF JOIN
(sql/dialect.py parse_asof_join + engine._rewrite_asof_joins routed to
operators/asof.py) — value semantics, inner/left forms, compound keys,
qualifier remapping, and the parse-error contract."""

from __future__ import annotations

import os

import pytest

from velostream_spark.sql.dialect import parse_asof_join
from velostream_spark.sql.engine import SqlEngine


@pytest.fixture()
def eng(spark):
    e = SqlEngine(spark, time_col="t")
    l = spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (1, 4, "early"), (2, 3, "c")],
        "k int, t int, tag string",
    )
    r = spark.createDataFrame(
        [(1, 5, 10.0), (1, 7, 20.0), (2, 8, 30.0)],
        "k int, rt int, v double",
    )
    e.register_stream("lt", l)
    e.register_stream("rt_tbl", r)
    return e


def test_asof_left_join_from_sql(eng):
    got = {
        (x["tag"]): x["v"]
        for x in eng.execute(
            "SELECT a.tag, b.v FROM lt a ASOF LEFT JOIN rt_tbl b "
            "ON a.k = b.k AND a.t >= b.rt"
        ).collect()
    }
    assert got == {"a": 10.0, "b": 20.0, "early": None, "c": None}


def test_asof_inner_join_drops_unmatched(eng):
    # DuckDB's plain ASOF JOIN is inner: rows with no preceding right row
    # disappear; the matched row's own columns (b.rt) are addressable
    rows = eng.execute(
        "SELECT a.tag, b.v, b.rt FROM lt a ASOF JOIN rt_tbl b "
        "ON a.k = b.k AND a.t >= b.rt ORDER BY a.tag"
    ).collect()
    assert [(x["tag"], x["v"], x["rt"]) for x in rows] == [
        ("a", 10.0, 5),
        ("b", 20.0, 7),
    ]


def test_asof_inner_join_keeps_null_payload_match(spark):
    # inner-form match detection uses the fill-forward MARKER, not payload
    # NULL-ness: a right row whose payload IS NULL still counts as a match
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "ll", spark.createDataFrame([(1, 5, "a")], "k int, t int, tag string")
    )
    e.register_stream(
        "rr", spark.createDataFrame([(1, 2, None)], "k int, rt int, v double")
    )
    rows = e.execute(
        "SELECT ll.tag, rr.v FROM ll ASOF JOIN rr ON ll.k = rr.k AND ll.t >= rr.rt"
    ).collect()
    assert [(x["tag"], x["v"]) for x in rows] == [("a", None)]


def test_asof_join_compound_keys_and_where(spark):
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "ll",
        spark.createDataFrame(
            [(1, "x", 5), (1, "y", 5), (2, "x", 5)], "k int, g string, t int"
        ),
    )
    e.register_stream(
        "rr",
        spark.createDataFrame(
            [(1, "x", 1, 10.0), (1, "y", 1, 20.0), (2, "x", 9, 30.0)],
            "k int, g string, rt int, v double",
        ),
    )
    rows = e.execute(
        "SELECT ll.k, ll.g, rr.v FROM ll ASOF LEFT JOIN rr "
        "ON ll.k = rr.k AND ll.g = rr.g AND ll.t >= rr.rt "
        "WHERE ll.k = 1 ORDER BY ll.g"
    ).collect()
    assert [(x["k"], x["g"], x["v"]) for x in rows] == [
        (1, "x", 10.0),
        (1, "y", 20.0),
    ]


def test_asof_join_colliding_payload_keeps_prefix(spark):
    # the right side's `t` collides with the left's `t`: it stays
    # addressable as the operator's asof_t via the qualified reference
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "ll", spark.createDataFrame([(1, 5)], "k int, t int")
    )
    e.register_stream(
        "rr", spark.createDataFrame([(1, 3, 7.0)], "k int, t int, v double")
    )
    rows = e.execute(
        "SELECT ll.t, rr.t, rr.v FROM ll ASOF LEFT JOIN rr "
        "ON ll.k = rr.k AND ll.t >= rr.t"
    ).collect()
    assert [(x["t"], x["asof_t"], x["v"]) for x in rows] == [(5, 3, 7.0)]


def test_asof_parse_contract():
    spec = parse_asof_join(
        "SELECT * FROM a x ASOF LEFT JOIN b y ON x.k = y.k2 AND x.t >= y.rt WHERE x.k > 0"
    )
    assert spec is not None and not spec.inner
    assert spec.keys == [("k", "k2")] and (spec.left_ts, spec.right_ts) == ("t", "rt")
    assert parse_asof_join("SELECT 1 FROM a JOIN b ON a.k = b.k") is None
    with pytest.raises(ValueError, match="timestamp inequality"):
        parse_asof_join("SELECT * FROM a ASOF JOIN b ON a.k = b.k")
    with pytest.raises(ValueError, match="condition term"):
        parse_asof_join("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.rt + 1")
    with pytest.raises(ValueError, match="exactly one timestamp"):
        parse_asof_join(
            "SELECT * FROM a ASOF JOIN b ON a.t >= b.rt AND a.u >= b.ru"
        )


# --- range-join routing (parse_range_join + engine._rewrite_range_joins) ---


def test_range_join_from_sql_matches_naive_and_avoids_bnlj(spark):
    from velostream_spark.sql.dialect import parse_range_join

    e = SqlEngine(spark, time_col="t")
    pts = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 25.0), (4, 99.5), (5, -3.0)],
        "pid int, v double",
    )
    rng = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 5.0, 30.0), (300, -50.0, 100.0)],
        "rid int, lo double, hi double",
    )
    e.register_stream("pts", pts)
    e.register_stream("rng", rng)
    df = e.execute(
        "SELECT p.pid, r.rid FROM pts p JOIN rng r ON p.v BETWEEN r.lo AND r.hi"
    )
    got = sorted((x["pid"], x["rid"]) for x in df.collect())
    want = sorted(
        (x["pid"], x["rid"])
        for x in pts.crossJoin(rng)
        .where((pts.v >= rng.lo) & (pts.v <= rng.hi))
        .collect()
    )
    assert got == want and len(got) == len(set(got))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    # the >=/<= spelling parses to the same spec
    spec = parse_range_join(
        "SELECT 1 FROM pts p JOIN rng r ON p.v >= r.lo AND p.v <= r.hi"
    )
    assert spec is not None and (spec.lo_col, spec.hi_col) == ("lo", "hi")
    assert spec.inclusive_hi


def test_range_join_rewrite_leaves_equi_joins_alone(spark):
    from velostream_spark.sql.dialect import parse_range_join

    # any equality conjunct -> Catalyst's hash join is already right
    assert parse_range_join(
        "SELECT 1 FROM a JOIN b ON a.k = b.k AND a.v >= b.lo AND a.v <= b.hi"
    ) is None
    assert parse_range_join("SELECT 1 FROM a JOIN b ON a.k = b.k") is None
    # strict < upper bound is honored (exclusive hi)
    spec = parse_range_join("SELECT 1 FROM a JOIN b ON a.v >= b.lo AND a.v < b.hi")
    assert spec is not None and not spec.inclusive_hi


def test_range_join_colliding_names_exposed_with_prefix(spark):
    e = SqlEngine(spark, time_col="t")
    e.register_stream("pp", spark.createDataFrame([(1, 5.0)], "id int, v double"))
    e.register_stream(
        "bb", spark.createDataFrame([(9, 0.0, 9.0)], "id int, lo double, hi double")
    )
    rows = e.execute(
        "SELECT pp.id, bb.id FROM pp JOIN bb ON pp.v BETWEEN bb.lo AND bb.hi"
    ).collect()
    assert [(x["id"], x["right_id"]) for x in rows] == [(1, 9)]


def test_asof_join_matches_naive_on_random_data(spark):
    """Property pin: on seeded random (key, ts) data with duplicates-free
    right side, the union+fill-forward operator equals the naive
    per-left-row argmax formulation exactly (including NULL payload for
    no-match rows and inclusive rt == t matches)."""
    import random

    from pyspark.sql import functions as F

    from velostream_spark.operators.asof import asof_join

    rnd = random.Random(411)
    left_rows = [
        (rnd.randint(1, 6), rnd.randint(0, 50), i) for i in range(300)
    ]
    right_pairs = {(rnd.randint(1, 6), rnd.randint(0, 50)) for _ in range(120)}
    right_rows = [(k, t, float(k * 1000 + t)) for k, t in right_pairs]
    l = spark.createDataFrame(left_rows, "k int, t int, lid int")
    r = spark.createDataFrame(right_rows, "k int, rt int, v double")

    got = {
        row["lid"]: row["asof_v"]
        for row in asof_join(l, r, "k", "t", "rt", ["v"]).collect()
    }
    # naive: max rt <= t per key, then the payload at that rt
    best = {}
    for k, t, lid in left_rows:
        cand = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt <= t]
        best[lid] = max(cand)[1] if cand else None
    assert got == best
    assert len(got) == 300


def test_asof_join_works_inside_ctas(spark):
    """ASOF JOIN through CREATE STREAM AS SELECT — the engine's CSAS path
    routes its SELECT through the same rewrite, so the registered stream
    carries the joined rows."""
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "lt2", spark.createDataFrame([(1, 5, "a"), (2, 3, "c")], "k int, t int, tag string")
    )
    e.register_stream(
        "rt2", spark.createDataFrame([(1, 4, 9.0)], "k int, rt int, v double")
    )
    e.execute(
        "CREATE STREAM enriched AS SELECT a.tag, b.v FROM lt2 a "
        "ASOF LEFT JOIN rt2 b ON a.k = b.k AND a.t >= b.rt"
    )
    rows = {(x["tag"], x["v"]) for x in e.execute("SELECT * FROM enriched").collect()}
    assert rows == {("a", 9.0), ("c", None)}


def test_asof_join_strict_form_excludes_equal_ts(spark):
    """inclusive=False (the stream-stream operator's semantics): an
    equal-timestamp right row is invisible; only strictly-earlier rights
    match. The inclusive default still sees it."""
    from velostream_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 5, "a"), (1, 7, "b")], "k int, t int, tag string")
    r = spark.createDataFrame([(1, 5, 50.0), (1, 6, 60.0)], "k int, rt int, v double")
    strict = {
        x["tag"]: x["asof_v"]
        for x in asof_join(l, r, "k", "t", "rt", ["v"], inclusive=False).collect()
    }
    incl = {
        x["tag"]: x["asof_v"]
        for x in asof_join(l, r, "k", "t", "rt", ["v"]).collect()
    }
    assert strict == {"a": None, "b": 60.0}   # rt=5 not < 5; rt=6 < 7
    assert incl == {"a": 50.0, "b": 60.0}


def test_streaming_asof_ss_matches_strict_batch_operator(spark):
    """The stateful stream-stream operator's bounded run equals the batch
    STRICT as-of over the same (ms-truncated, deduped) inputs — the
    operator-level twin of the DuckDB-oracle parity check."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from velostream_spark.operators.asof import asof_join
    from velostream_spark.registry import all_queries
    from velostream_spark.session import load_tables

    got = {
        r["event_id"]: (r["asof_snap_value"], r["asof_snap_event_id"])
        for r in all_queries()["streaming_asof_ss"].fn(spark, SF_SMOKE).collect()
    }
    ev = load_tables(spark, SF_SMOKE, register_views=False)["events"].select(
        "event_id", "user_id", "value",
        F.timestamp_millis(F.unix_millis("ts")).alias("ts"),
    )
    snaps = (
        ev.where(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("snap_value"),
            F.max("event_id").alias("snap_event_id"),
        )
    )
    lefts = ev.where(F.col("event_id") % 10 != 0).select("event_id", "user_id", "ts")
    want = {
        r["event_id"]: (r["asof_snap_value"], r["asof_snap_event_id"])
        for r in asof_join(
            lefts, snaps, "user_id", "ts", "ts",
            ["snap_value", "snap_event_id"], inclusive=False,
        ).collect()
    }
    assert got == want and len(got) > 100


def test_time_series_join_composes_with_regular_join(spark):
    """An ASOF (or range) join followed by an ordinary equi-join in the
    same FROM: the rewrite replaces the time-series pair with its view
    and the remaining join runs on top through Catalyst."""
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "tr", spark.createDataFrame([(1, 5, 100), (2, 3, 200)], "k int, t int, acct int")
    )
    e.register_stream(
        "qt", spark.createDataFrame([(1, 4, 9.5)], "k int, rt int, px double")
    )
    e.register_stream(
        "accts", spark.createDataFrame([(100, "alice"), (200, "bo")], "acct int, owner string")
    )
    rows = sorted(
        (x["owner"], x["px"])
        for x in e.execute(
            "SELECT a.owner, q.px FROM tr ASOF LEFT JOIN qt q "
            "ON tr.k = q.k AND tr.t >= q.rt "
            "JOIN accts a ON a.acct = tr.acct"
        ).collect()
    )
    assert rows == [("alice", 9.5), ("bo", None)]

    # range join + regular join in one FROM
    e.register_stream("pts2", spark.createDataFrame([(1, 5.0, 100)], "pid int, v double, acct int"))
    e.register_stream("rng2", spark.createDataFrame([(9, 0.0, 9.0)], "rid int, lo double, hi double"))
    rows2 = [
        (x["rid"], x["owner"])
        for x in e.execute(
            "SELECT r.rid, a.owner FROM pts2 p JOIN rng2 r "
            "ON p.v BETWEEN r.lo AND r.hi "
            "JOIN accts a ON a.acct = p.acct"
        ).collect()
    ]
    assert rows2 == [(9, "alice")]


def test_streaming_asof_sql_static_right_routes_foreachbatch(spark, tmp_path):
    """VERDICT r11 ask: a streaming CSAS whose SELECT carries an ASOF JOIN
    against STATIC reference data ROUTES to the foreachBatch enrichment
    (batch operator per micro-batch — exact for a static right side)
    instead of failing fast."""
    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (1, 4, "early"), (2, 3, "c")],
        "k int, t int, tag string",
    ).write.parquet(src)
    e.register_table(
        "quotes_t",
        spark.createDataFrame(
            [(1, 5, 10.0), (1, 7, 20.0), (2, 8, 30.0)], "k int, rt int, v double"
        ),
    )
    sink = str(tmp_path / "out")
    e.execute_streaming(
        "CREATE STREAM enriched AS SELECT s.tag, q.v "
        "FROM s ASOF LEFT JOIN quotes_t q ON s.k = q.k AND s.t >= q.rt "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', 'enriched.type' = 'file_sink', "
        f"'enriched.format' = 'parquet', 'enriched.path' = '{sink}')"
    )
    from velostream_spark.sql.engine import _read_fb_sink

    got = {r["tag"]: r["v"] for r in _read_fb_sink(spark, sink).collect()}
    assert got == {"a": 10.0, "b": 20.0, "early": None, "c": None}


def test_streaming_asof_sql_static_right_memory_sink(spark, tmp_path):
    """Same routing with the default memory sink: the job name reads back
    like a memory-sink table."""
    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "in_mem")
    spark.createDataFrame(
        [(1, 9, "b"), (2, 3, "c")], "k int, t int, tag string"
    ).write.parquet(src)
    e.register_table(
        "quotes_m",
        spark.createDataFrame([(1, 7, 20.0)], "k int, rt int, v double"),
    )
    e.execute_streaming(
        "CREATE STREAM enriched_mem AS SELECT s.tag, q.v "
        "FROM s ASOF LEFT JOIN quotes_m q ON s.k = q.k AND s.t >= q.rt "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet')"
    )
    got = {r["tag"]: r["v"] for r in spark.table("enriched_mem").collect()}
    assert got == {"b": 20.0, "c": None}


def test_streaming_asof_sql_stream_stream_routes_stateful(spark, tmp_path):
    """BOTH sides WITH-configured streams + the strict (>) form → the
    stateful bucketed stream-stream operator; equals the batch strict
    as-of on the same data (the surrounding SELECT addresses left columns
    through the struct-id unpacking)."""
    import datetime as dt

    from velostream_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    trades = [(i, 1 + i % 2, base + dt.timedelta(seconds=i)) for i in range(20)]
    quotes = [
        (100 + j, 1 + j % 2, base + dt.timedelta(seconds=2 * j), float(j))
        for j in range(10)
    ]
    tdf = spark.createDataFrame(trades, "trade_id int, k int, ts timestamp")
    qdf = spark.createDataFrame(quotes, "qid int, k int, ts timestamp, px double")
    tsrc, qsrc = str(tmp_path / "trades"), str(tmp_path / "quotes")
    tdf.write.parquet(tsrc)
    qdf.write.parquet(qsrc)

    e = SqlEngine(spark, time_col="ts")
    e.execute_streaming(
        "CREATE STREAM enriched_ss AS SELECT s.trade_id, s.ts, q.px "
        "FROM s ASOF LEFT JOIN q ON s.k = q.k AND s.ts > q.ts "
        f"WITH ('s.type' = 'file_source', 's.path' = '{tsrc}', "
        "'s.format' = 'parquet', "
        f"'q.type' = 'file_source', 'q.path' = '{qsrc}', "
        "'q.format' = 'parquet')"
    )
    got = sorted(
        (r["trade_id"], r["ts"], r["px"])
        for r in spark.table("enriched_ss").collect()
    )
    want = sorted(
        (r["trade_id"], r["ts"], r["asof_px"])
        for r in asof_join(
            tdf, qdf, key="k", left_ts="ts", right_ts="ts",
            payload=["px"], inclusive=False,
        ).collect()
    )
    assert got == want and len(got) == 20


def test_streaming_asof_sql_stream_stream_requires_strict(spark, tmp_path):
    """The inclusive (>=) form cannot finalize against a watermark — the
    stream-stream route fails fast naming the strict alternative."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    src1 = str(tmp_path / "l1")
    src2 = str(tmp_path / "r1")
    spark.createDataFrame(
        [(1, 1, base)], "trade_id int, k int, ts timestamp"
    ).write.parquet(src1)
    spark.createDataFrame(
        [(9, 1, base, 1.0)], "qid int, k int, ts timestamp, px double"
    ).write.parquet(src2)
    e = SqlEngine(spark, time_col="ts")
    with pytest.raises(NotImplementedError, match="STRICT"):
        e.execute_streaming(
            "CREATE STREAM out_incl AS SELECT s.trade_id, q.px "
            "FROM s ASOF LEFT JOIN q ON s.k = q.k AND s.ts >= q.ts "
            f"WITH ('s.type' = 'file_source', 's.path' = '{src1}', "
            "'s.format' = 'parquet', "
            f"'q.type' = 'file_source', 'q.path' = '{src2}', "
            "'q.format' = 'parquet')",
            wait=False,
        )


def test_asof_strict_form_from_sql(eng):
    """The dialect accepts the strict operator (l.ts > r.ts) and routes it
    to the batch operator's inclusive=False form."""
    got = {
        x["tag"]: x["v"]
        for x in eng.execute(
            "SELECT a.tag, b.v FROM lt a ASOF LEFT JOIN rt_tbl b "
            "ON a.k = b.k AND a.t > b.rt"
        ).collect()
    }
    assert got == {"a": None, "b": 20.0, "early": None, "c": None}


def test_range_join_matches_naive_on_random_data(spark):
    """Property pin: bucketized range join == naive BETWEEN join on seeded
    random points/ranges (inverted and NULL-bounded ranges included),
    across bucket widths much smaller and larger than the range widths."""
    import random

    from pyspark.sql import functions as F

    from velostream_spark.operators.rangejoin import range_join

    rnd = random.Random(733)
    pts = [(i, rnd.uniform(-100, 100)) for i in range(200)]
    rngs = []
    for i in range(60):
        lo = rnd.uniform(-120, 120)
        hi = lo + rnd.uniform(-10, 40)  # some inverted
        rngs.append((i, lo, hi))
    rngs.append((98, None, 50.0))
    rngs.append((99, -5.0, None))
    p = spark.createDataFrame(pts, "pid int, v double")
    r = spark.createDataFrame(rngs, "rid int, lo double, hi double")
    want = sorted(
        (x["pid"], x["rid"])
        for x in p.crossJoin(r)
        .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .collect()
    )
    for w in (0.5, 7.0, 1000.0):
        got = sorted(
            (x["pid"], x["rid"])
            for x in range_join(p, r, "v", "lo", "hi", bucket_width=w).collect()
        )
        assert got == want and len(got) == len(set(got)), w
    assert len(want) > 50


def test_asof_join_inside_cte(spark):
    """ASOF JOIN in a WITH-clause subquery: the rewrite replaces the CTE's
    FROM segment and the outer query runs over the CTE unchanged."""
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "lt3", spark.createDataFrame([(1, 5, "a"), (1, 9, "b")], "k int, t int, tag string")
    )
    e.register_stream(
        "rt3", spark.createDataFrame([(1, 4, 2.0), (1, 8, 3.0)], "k int, rt int, v double")
    )
    rows = sorted(
        (x["tag"], x["vv"])
        for x in e.execute(
            "WITH enriched AS ("
            "  SELECT a.tag, b.v FROM lt3 a ASOF LEFT JOIN rt3 b "
            "  ON a.k = b.k AND a.t >= b.rt"
            ") SELECT tag, v * 10 AS vv FROM enriched"
        ).collect()
    )
    assert rows == [("a", 20.0), ("b", 30.0)]


def test_asof_right_key_name_collision_resolved(spark):
    """ADVICE r11: ON l.uid = r.user_id where the RIGHT relation ALSO has
    its own uid column — the key rename pre-moves right's uid aside
    instead of silently creating two uid columns; r.uid and r.user_id
    both stay addressable through the rewrite."""
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "lcol",
        spark.createDataFrame([(1, 5, "a"), (2, 7, "b")], "uid int, t int, tag string"),
    )
    e.register_stream(
        "rcol",
        spark.createDataFrame(
            [(99, 1, 4, 1.5), (88, 2, 6, 2.5)],
            "uid int, user_id int, rt int, v double",
        ),
    )
    rows = e.execute(
        "SELECT l.tag, r.v, r.uid AS r_uid, r.user_id AS joined_key "
        "FROM lcol l ASOF LEFT JOIN rcol r "
        "ON l.uid = r.user_id AND l.t >= r.rt ORDER BY l.tag"
    ).collect()
    assert [(x["tag"], x["v"], x["r_uid"], x["joined_key"]) for x in rows] == [
        ("a", 1.5, 99, 1),
        ("b", 2.5, 88, 2),
    ]


def test_asof_requalify_skips_string_literals(eng):
    """ADVICE/VERDICT r11: the alias→view remap after the rewrite must not
    touch dotted names INSIDE string literals."""
    rows = eng.execute(
        "SELECT a.tag, b.v, 'see a.tag here' AS note FROM lt a "
        "ASOF LEFT JOIN rt_tbl b ON a.k = b.k AND a.t >= b.rt "
        "WHERE a.tag <> 'not b.v'"
    ).collect()
    assert len(rows) == 4
    assert all(x["note"] == "see a.tag here" for x in rows)


def test_range_join_requalify_skips_string_literals(spark):
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "pts", spark.createDataFrame([(1, 5.0), (2, 25.0)], "pid int, v double")
    )
    e.register_stream(
        "bands2",
        spark.createDataFrame([(10, 0.0, 10.0), (20, 20.0, 30.0)], "bid int, lo double, hi double"),
    )
    rows = e.execute(
        "SELECT p.pid, r.bid, 'p.v stays' AS note FROM pts p JOIN bands2 r "
        "ON p.v BETWEEN r.lo AND r.hi ORDER BY p.pid"
    ).collect()
    assert [(x["pid"], x["bid"], x["note"]) for x in rows] == [
        (1, 10, "p.v stays"),
        (2, 20, "p.v stays"),
    ]


def test_range_join_parse_tries_every_from_position():
    """ADVICE r11: an earlier equi-join FROM (its own CTE) no longer
    shadows a later range join — parse iterates FROM...JOIN positions."""
    from velostream_spark.sql.dialect import parse_range_join

    sql = (
        "WITH j AS (SELECT a.x AS x FROM ta a JOIN tb b ON a.x = b.x) "
        "SELECT * FROM j p JOIN bands r ON p.x BETWEEN r.lo AND r.hi"
    )
    spec = parse_range_join(sql)
    assert spec is not None
    assert (spec.left_table, spec.right_table) == ("j", "bands")
    # and the caller can skip past a span it cannot route
    assert parse_range_join(sql, spec.span[0] + 1) is None


def test_range_join_over_cte_name_left_to_spark(spark):
    """A range join whose LEFT is a CTE name (not a registered view) is
    left to Spark — correct results via its own plan, no crash in the
    rewrite's table resolution."""
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "pts3", spark.createDataFrame([(1, 5.0), (2, 25.0)], "pid int, v double")
    )
    e.register_stream(
        "bands3",
        spark.createDataFrame([(10, 0.0, 10.0), (20, 20.0, 30.0)], "bid int, lo double, hi double"),
    )
    rows = e.execute(
        "WITH filt AS (SELECT pid, v FROM pts3 WHERE pid > 0) "
        "SELECT f.pid, r.bid FROM filt f JOIN bands3 r "
        "ON f.v BETWEEN r.lo AND r.hi ORDER BY f.pid"
    ).collect()
    assert [(x["pid"], x["bid"]) for x in rows] == [(1, 10), (2, 20)]


def test_bucket_flush_per_key_retention():
    """VERDICT r11: retention in the bucketed stream-stream as-of is per
    KEY — a hot key cannot keep a dead neighbour key's reference state
    alive in the same bucket (state would otherwise grow with
    distinct-keys-ever under skewed traffic)."""
    from velostream_spark.streaming.asof_stream import _bucket_flush

    MIN_US = 60_000_000
    retention_us = 10 * MIN_US
    st = {
        "dead": ([(0, (1.0,))], []),                              # idle since t=0
        "hot": ([(95 * MIN_US, (2.0,))], [(99 * MIN_US, 7)]),     # live traffic
        "fresh_idle": ([(95 * MIN_US, (3.0,))], []),              # idle, in-window
    }
    out, keys, earliest, newest = _bucket_flush(st, 96 * MIN_US, retention_us, 1)
    assert "dead" not in st          # 0 + 10min <= wm=96min -> evicted
    assert "hot" in st and "fresh_idle" in st
    assert out == [] and earliest == 99 * MIN_US and newest == 95 * MIN_US

    out, keys, earliest, newest = _bucket_flush(st, 100 * MIN_US, retention_us, 1)
    assert keys == ["hot"] and out == [(7, 99 * MIN_US, (2.0,))]
    assert "hot" in st and earliest is None   # rights kept until ITS retention

    out, keys, earliest, newest = _bucket_flush(st, 106 * MIN_US, retention_us, 1)
    assert not st and out == []               # 95 + 10 <= 106 -> all evicted


def test_streaming_range_sql_routes_bucketized(spark, tmp_path):
    """A streaming CSAS with an equality-free BETWEEN against STATIC
    ranges routes through the bucketized rewrite (proved by the rewrite's
    registered view, which a Spark-planned BNLJ would never create) and
    matches the naive join."""
    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "pts_in")
    spark.createDataFrame(
        [(1, 5.0), (2, 25.0), (3, 99.0)], "pid int, v double"
    ).write.parquet(src)
    e.register_table(
        "bands_s",
        spark.createDataFrame(
            [(10, 0.0, 10.0), (20, 20.0, 30.0)], "bid int, lo double, hi double"
        ),
    )
    sink = str(tmp_path / "pts_out")
    before = {t.name for t in spark.catalog.listTables()}
    e.execute_streaming(
        "CREATE STREAM banded AS SELECT p.pid, r.bid FROM p JOIN bands_s r "
        "ON p.v BETWEEN r.lo AND r.hi "
        f"WITH ('p.type' = 'file_source', 'p.path' = '{src}', "
        "'p.format' = 'parquet', 'banded.type' = 'file_sink', "
        f"'banded.format' = 'parquet', 'banded.path' = '{sink}')"
    )
    after = {t.name for t in spark.catalog.listTables()}
    assert any(n.startswith("_range_join_") for n in after - before)
    got = sorted(
        (r["pid"], r["bid"])
        for r in spark.read.schema("pid int, bid int").parquet(sink).collect()
    )
    assert got == [(1, 10), (2, 20)]


def test_range_rewrite_skips_streaming_right(spark, tmp_path):
    """A stream-STREAM range join is left to Spark: the auto bucket-width
    sizing needs an eager aggregation over the ranges side, impossible on
    a stream — the rewrite must skip the span, not crash."""
    src = str(tmp_path / "ranges_in")
    spark.createDataFrame(
        [(10, 0.0, 10.0)], "bid int, lo double, hi double"
    ).write.parquet(src)
    sdf = spark.readStream.schema("bid int, lo double, hi double").parquet(src)
    sdf.createOrReplaceTempView("rstream")
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "pts_sr", spark.createDataFrame([(1, 5.0)], "pid int, v double")
    )
    sql = (
        "SELECT p.pid, r.bid FROM pts_sr p JOIN rstream r "
        "ON p.v BETWEEN r.lo AND r.hi"
    )
    assert e._rewrite_range_joins(sql) == sql


def test_streaming_asof_sql_group_by_fails_fast(spark, tmp_path):
    """GROUP BY without a time window over the foreachBatch ASOF route
    cannot finalize against a watermark (per-micro-batch partials would be
    silently wrong) — the engine fails fast naming the two-step
    alternative. WINDOWED GROUP BY composes instead
    (test_streaming_asof_sql_group_by_composes)."""
    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "gb_in")
    spark.createDataFrame([(1, 5, "a")], "k int, t int, tag string").write.parquet(src)
    e.register_table(
        "quotes_gb",
        spark.createDataFrame([(1, 4, 9.0)], "k int, rt int, v double"),
    )
    with pytest.raises(NotImplementedError, match="per-micro-batch"):
        e.execute_streaming(
            "CREATE STREAM agg_out AS SELECT s.k, SUM(q.v) AS sv "
            "FROM s ASOF LEFT JOIN quotes_gb q ON s.k = q.k AND s.t >= q.rt "
            "GROUP BY s.k "
            f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
            "'s.format' = 'parquet')",
            wait=False,
        )


def test_streaming_asof_sql_ss_matches_batch_on_random_data(spark, tmp_path):
    """Property pin for the stream-stream SQL route: on seeded random
    (key, ts) data with a duplicates-free right side, the routed stateful
    operator equals the batch strict as-of exactly — including NULL
    payloads for keys with no preceding right and keys present on only
    one side."""
    import datetime as dt
    import random

    from velostream_spark.operators.asof import asof_join

    rnd = random.Random(1207)
    base = dt.datetime(2025, 6, 1)
    lefts = [
        (i, rnd.randrange(6), base + dt.timedelta(milliseconds=rnd.randrange(0, 5000)))
        for i in range(300)
    ]
    seen = set()
    rights = []
    for j in range(200):
        k = rnd.randrange(8)
        ts = base + dt.timedelta(milliseconds=rnd.randrange(0, 5000))
        if (k, ts) in seen:
            continue
        seen.add((k, ts))
        rights.append((1000 + j, k, ts, round(rnd.uniform(0, 100), 3)))
    tdf = spark.createDataFrame(lefts, "trade_id int, k int, ts timestamp")
    qdf = spark.createDataFrame(rights, "qid int, k int, ts timestamp, px double")
    tsrc, qsrc = str(tmp_path / "rl"), str(tmp_path / "rr")
    tdf.write.parquet(tsrc)
    qdf.write.parquet(qsrc)
    e = SqlEngine(spark, time_col="ts")
    e.execute_streaming(
        "CREATE STREAM rnd_ss AS SELECT s.trade_id, q.px "
        "FROM s ASOF LEFT JOIN q ON s.k = q.k AND s.ts > q.ts "
        f"WITH ('s.type' = 'file_source', 's.path' = '{tsrc}', "
        "'s.format' = 'parquet', "
        f"'q.type' = 'file_source', 'q.path' = '{qsrc}', "
        "'q.format' = 'parquet')"
    )
    got = sorted(
        (r["trade_id"], r["px"]) for r in spark.table("rnd_ss").collect()
    )
    want = sorted(
        (r["trade_id"], r["asof_px"])
        for r in asof_join(
            tdf, qdf, key="k", left_ts="ts", right_ts="ts",
            payload=["px"], inclusive=False,
        ).collect()
    )
    assert got == want and len(got) == 300


def test_streaming_asof_ss_flushes_final_sub_ms_left_row(spark, tmp_path):
    """Regression: the watermark is in ms, so a left row past the first µs
    of the final millisecond (here the corpus-max event, 500 µs into its
    ms, plus a quote 100 µs into that same ms) used to stay pending
    forever — a bounded run dropped it. The SQL route's stateful
    operator must equal DuckDB's strict ASOF JOIN, every left row
    included."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1)
    us = lambda n: dt.timedelta(microseconds=n)  # noqa: E731
    trades = [(i, 1 + i % 2, base + us(1_000_000 * i + 250 * (i % 4))) for i in range(20)]
    trades.append((20, 1, base + us(19_000_000 + 7_500)))  # the max event time
    quotes = [(100 + j, 1 + j % 2, base + us(2_000_000 * j + 123), float(j)) for j in range(10)]
    quotes.append((110, 1, base + us(19_000_000 + 7_100), 99.0))
    tdf = spark.createDataFrame(trades, "trade_id int, k int, ts timestamp")
    qdf = spark.createDataFrame(quotes, "qid int, k int, ts timestamp, px double")
    tsrc, qsrc = str(tmp_path / "trades"), str(tmp_path / "quotes")
    tdf.write.parquet(tsrc)
    qdf.write.parquet(qsrc)
    want = sorted(duckdb.sql(
        f"SELECT s.trade_id, q.px FROM read_parquet('{tsrc}/*.parquet') s "
        f"ASOF LEFT JOIN read_parquet('{qsrc}/*.parquet') q "
        "ON s.k = q.k AND s.ts > q.ts"
    ).fetchall(), key=lambda r: r[0])
    assert len(want) == 21 and want[-1] == (20, 99.0)

    e = SqlEngine(spark, time_col="ts")
    e.execute_streaming(
        "CREATE STREAM sub_ms_ss AS SELECT s.trade_id, q.px "
        "FROM s ASOF LEFT JOIN q ON s.k = q.k AND s.ts > q.ts "
        f"WITH ('s.type' = 'file_source', 's.path' = '{tsrc}', "
        "'s.format' = 'parquet', "
        f"'q.type' = 'file_source', 'q.path' = '{qsrc}', "
        "'q.format' = 'parquet')"
    )
    got = sorted((r["trade_id"], r["px"]) for r in spark.table("sub_ms_ss").collect())
    assert got == want


def test_sub_outside_literals_edges():
    """The literal-masking substitution helper: doubled-quote escapes,
    adjacent literals, and unmatched content outside literals."""
    fn = lambda seg: seg.replace("a.x", "V.x")  # noqa: E731
    sub = SqlEngine._sub_outside_literals
    assert sub("SELECT a.x, 'a.x' FROM t", fn) == "SELECT V.x, 'a.x' FROM t"
    # SQL doubled-quote escape parses as two adjacent literals — both kept
    assert sub("'it''s a.x' a.x", fn) == "'it''s a.x' V.x"
    assert sub('"a.x" a.x', fn) == '"a.x" V.x'
    assert sub("no literals a.x", fn) == "no literals V.x"


def test_memo_fixture_reuses_per_key(tmp_path):
    """Input-fixture memoization (bench honesty): same key returns the
    SAME dir without rebuilding; a different key builds fresh."""
    from velostream_spark.queries.dialect_queries import (
        _FIXTURE_MEMO,
        _memo_fixture,
    )

    calls = []
    d1 = _memo_fixture(("t_memo", "k1"), "vs-test-memo-", calls.append)
    d2 = _memo_fixture(("t_memo", "k1"), "vs-test-memo-", calls.append)
    d3 = _memo_fixture(("t_memo", "k2"), "vs-test-memo-", calls.append)
    assert d1 == d2 and d1 != d3
    assert calls == [d1, d3]  # build ran once per key
    for k in (("t_memo", "k1"), ("t_memo", "k2")):
        _FIXTURE_MEMO.pop(k, None)


def test_asof_alias_rebound_in_subquery_fails_fast(eng):
    """r12 verdict finding #1: a nested scope REBINDING the join alias and
    dereferencing it would be silently requalified onto the join view —
    the engine now fails fast naming the constraint."""
    with pytest.raises(ValueError, match="rebound"):
        eng.execute(
            "SELECT a.tag, b.v FROM lt a ASOF LEFT JOIN rt_tbl b "
            "ON a.k = b.k AND a.t >= b.rt "
            "WHERE EXISTS (SELECT 1 FROM rt_tbl a WHERE a.k = 99)"
        )


def test_asof_correlated_subquery_still_requalifies(eng):
    """References to the outer alias outside the span (no rebind) keep
    requalifying — the rebind guard must not over-fire."""
    rows = eng.execute(
        "SELECT a.tag, b.v FROM lt a ASOF LEFT JOIN rt_tbl b "
        "ON a.k = b.k AND a.t >= b.rt WHERE a.k = 1"
    ).collect()
    assert {(x["tag"], x["v"]) for x in rows} == {
        ("a", 10.0), ("b", 20.0), ("early", None)
    }


def test_asof_rebind_without_dereference_is_harmless(eng, spark):
    """A nested FROM that happens to reuse the join's TABLE name but never
    dereferences it as a qualifier is left alone (the substitution pattern
    matches nothing) — the guard only fires on rebind + dereference."""
    rows = eng.execute(
        "SELECT a.tag, b.v FROM lt a ASOF LEFT JOIN rt_tbl b "
        "ON a.k = b.k AND a.t >= b.rt "
        "WHERE a.k IN (SELECT k FROM rt_tbl)"
    ).collect()
    assert {(x["tag"], x["v"]) for x in rows} == {
        ("a", 10.0), ("b", 20.0), ("early", None), ("c", None)
    }


def test_asof_over_cte_names_clear_error(spark):
    """r12 verdict finding #2: an ASOF JOIN whose relation is a WITH-clause
    CTE name gets a ValueError naming the registered-view contract, not an
    opaque TABLE_OR_VIEW_NOT_FOUND."""
    e = SqlEngine(spark, time_col="t")
    e.register_stream(
        "asof_cte_r", spark.createDataFrame([(1, 4, 9.0)], "k int, rt int, v double")
    )
    with pytest.raises(ValueError, match="registered tables or temp views"):
        e.execute(
            "WITH lcte AS (SELECT 1 AS k, 5 AS t) "
            "SELECT lcte.k, r.v FROM lcte ASOF LEFT JOIN asof_cte_r r "
            "ON lcte.k = r.k AND lcte.t >= r.rt"
        )


def test_literal_masking_consumes_backslash_escapes():
    """Spark SQL processes backslash escapes by default, so 'it\\'s l.value'
    is ONE literal — the masker must not end it at the backslash-quote and
    expose the dotted name to the requalifier."""
    fn = lambda seg: seg.replace("l.value", "V.value")  # noqa: E731
    sub = SqlEngine._sub_outside_literals
    assert (
        sub(r"WHERE note = 'it\'s l.value' AND l.value > 0", fn)
        == r"WHERE note = 'it\'s l.value' AND V.value > 0"
    )
    assert (
        sub(r'WHERE note = "say \" l.value" AND l.value > 0', fn)
        == r'WHERE note = "say \" l.value" AND V.value > 0'
    )


def _fb_asof_engine(spark, tmp_path, rows, right_rows):
    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "fb_in")
    spark.createDataFrame(rows, "k int, t int, tag string").write.mode(
        "overwrite"
    ).parquet(src)
    e.register_table(
        "quotes_fb", spark.createDataFrame(right_rows, "k int, rt int, v double")
    )
    return e, src


def test_streaming_asof_global_aggregate_fails_fast(spark, tmp_path):
    """ADVICE r12 (medium): a bare global aggregate (no GROUP BY) on the
    foreachBatch route would emit per-micro-batch partials — rejected."""
    e, src = _fb_asof_engine(
        spark, tmp_path, [(1, 5, "a")], [(1, 4, 9.0)]
    )
    with pytest.raises(NotImplementedError, match="global aggregate"):
        e.execute_streaming(
            "CREATE STREAM agg1 AS SELECT SUM(q.v) AS sv "
            "FROM s ASOF LEFT JOIN quotes_fb q ON s.k = q.k AND s.t >= q.rt "
            f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
            "'s.format' = 'parquet')",
            wait=False,
        )


def test_streaming_asof_select_distinct_fails_fast(spark, tmp_path):
    e, src = _fb_asof_engine(spark, tmp_path, [(1, 5, "a")], [(1, 4, 9.0)])
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        e.execute_streaming(
            "CREATE STREAM agg2 AS SELECT DISTINCT s.k, q.v "
            "FROM s ASOF LEFT JOIN quotes_fb q ON s.k = q.k AND s.t >= q.rt "
            f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
            "'s.format' = 'parquet')",
            wait=False,
        )


def test_streaming_asof_window_function_fails_fast(spark, tmp_path):
    e, src = _fb_asof_engine(spark, tmp_path, [(1, 5, "a")], [(1, 4, 9.0)])
    with pytest.raises(NotImplementedError, match="OVER"):
        e.execute_streaming(
            "CREATE STREAM agg3 AS SELECT s.k, "
            "ROW_NUMBER() OVER (PARTITION BY s.k ORDER BY s.t) AS rn "
            "FROM s ASOF LEFT JOIN quotes_fb q ON s.k = q.k AND s.t >= q.rt "
            f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
            "'s.format' = 'parquet')",
            wait=False,
        )


def test_write_batch_idempotent_replay_no_duplicates(spark, tmp_path):
    """ADVICE r12 (medium) + r13 verdict task 3 + ADVICE r14 (medium):
    re-running the SAME batch_id (a checkpoint replay) must not duplicate
    sink rows; distinct batch ids append. The write is STAGED — part
    files land in a hidden ``_stage_b<id>/`` and the directory renames
    to ``b<id>/`` only after the staged write committed — so no reader
    (batch or concurrent file stream) can ever list a partial attempt's
    part files."""
    from velostream_spark.sql.engine import _read_fb_sink, _write_batch_idempotent

    out_dir = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    _write_batch_idempotent(df, out_dir, "parquet", 0)
    _write_batch_idempotent(df, out_dir, "parquet", 0)  # replay of batch 0
    assert _read_fb_sink(spark, out_dir).count() == 2
    _write_batch_idempotent(df, out_dir, "parquet", 1)  # a NEW batch
    assert _read_fb_sink(spark, out_dir).count() == 4
    # one subdir per batch, no staging residue at the top level
    names = sorted(
        n for n in os.listdir(out_dir) if not n.startswith((".", "_"))
    )
    assert names == ["b0", "b1"]
    assert not [n for n in os.listdir(out_dir) if n.startswith("_stage")]
    assert all(os.path.isdir(os.path.join(out_dir, n)) for n in names)
    # a COMMITTED batch directory is immutable: the replay is skipped,
    # never re-overwritten — a downstream file stream tracks seen part
    # files by path, and replacing them would both delete consumed files
    # and feed their renamed twins in as duplicates
    df2 = spark.createDataFrame([(9, "z")], "k int, s string")
    _write_batch_idempotent(df2, out_dir, "parquet", 1)
    got = {(r["k"], r["s"]) for r in _read_fb_sink(spark, out_dir).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_write_batch_staged_commit_protocol(spark, tmp_path):
    """ADVICE r14 (medium), crash-shape coverage: a partial staged
    attempt is invisible to readers and discarded on replay; a complete
    staged attempt that crashed before its rename is published without a
    rewrite; a torn copy-based rename (both dirs present) is finished
    file-by-file, idempotently."""
    import shutil

    from velostream_spark.sql.engine import _read_fb_sink, _write_batch_idempotent

    out_dir = str(tmp_path / "sink")
    os.makedirs(out_dir)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")

    # 1. crash mid-staging: junk partial files, NO _SUCCESS — invisible
    #    (hidden dir) and replaced by the replay
    stage = os.path.join(out_dir, "_stage_b0")
    os.makedirs(stage)
    open(os.path.join(stage, "part-junk.parquet"), "w").write("not parquet")
    _write_batch_idempotent(df, out_dir, "parquet", 0)
    assert not os.path.exists(stage)
    assert _read_fb_sink(spark, out_dir).count() == 2

    # 2. crash between staging commit and rename: the staged dir is
    #    complete (_SUCCESS present) — the replay publishes it verbatim
    sub1 = os.path.join(out_dir, "b1")
    _write_batch_idempotent(df, out_dir, "parquet", 1)
    shutil.move(sub1, os.path.join(out_dir, "_stage_b1"))  # un-publish
    before = sorted(os.listdir(os.path.join(out_dir, "_stage_b1")))
    _write_batch_idempotent(df, out_dir, "parquet", 1)
    assert sorted(os.listdir(sub1)) == before  # same files, no rewrite
    assert _read_fb_sink(spark, out_dir).count() == 4

    # 3. torn copy-based rename: some files already in b2/, the rest
    #    still staged — the replay completes the move with the SAME
    #    names (no duplicates) and clears the stage
    sub2 = os.path.join(out_dir, "b2")
    _write_batch_idempotent(df, out_dir, "parquet", 2)
    stage2 = os.path.join(out_dir, "_stage_b2")
    os.makedirs(stage2)
    moved = [n for n in os.listdir(sub2) if n.startswith("part-")][:1]
    for n in moved + ["_SUCCESS"]:
        shutil.copy(os.path.join(sub2, n), os.path.join(stage2, n))
    os.remove(os.path.join(sub2, moved[0]))  # torn: one part not yet copied
    _write_batch_idempotent(df, out_dir, "parquet", 2)
    assert not os.path.exists(stage2)
    assert _read_fb_sink(spark, out_dir).count() == 6


def test_fb_temp_views_dropped_per_batch(spark, tmp_path):
    """ADVICE r12 (low): each micro-batch's ASOF rewrite registers
    _asof_join_N temp views; the route drops them after the batch write so
    a long-running job doesn't grow the driver catalog."""
    e, src = _fb_asof_engine(
        spark, tmp_path, [(1, 5, "a"), (1, 9, "b")], [(1, 4, 9.0)]
    )

    def rewrite_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith(("_asof_join_", "_range_join_"))
        }

    before = rewrite_views()
    e.execute_streaming(
        "CREATE STREAM fbclean AS SELECT s.k, s.tag, q.v "
        "FROM s ASOF LEFT JOIN quotes_fb q ON s.k = q.k AND s.t >= q.rt "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet')"
    )
    assert rewrite_views() - before == set()
    got = {(r["tag"], r["v"]) for r in spark.table("fbclean").collect()}
    assert got == {("a", 9.0), ("b", 9.0)}


def test_streaming_asof_sql_group_by_composes(spark, tmp_path):
    """r12 verdict 'What's missing' #1: ASOF JOIN + windowed GROUP BY in
    ONE streaming statement now composes (enrichment CSAS -> watermarked
    windowed aggregation over the intermediate stream) instead of failing
    fast. Values checked against the batch two-step with the EMIT FINAL
    closure rule (windows whose end <= max event time emit)."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    lrows = [
        (i, i % 2, base + dt.timedelta(minutes=m))
        for i, m in enumerate([0, 1, 2, 6, 7, 11])
    ]
    src = str(tmp_path / "gbc_in")
    spark.createDataFrame(lrows, "event_id int, k int, ts timestamp").write.mode(
        "overwrite"
    ).parquet(src)
    e.register_table(
        "snaps_gbc",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 10.0),
             (1, base + dt.timedelta(minutes=5), 20.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "gbc_out")
    e.execute_streaming(
        "CREATE STREAM gbc AS "
        "SELECT s.k, COUNT(*) AS n, ROUND(SUM(q.v), 2) AS sv "
        "FROM s ASOF LEFT JOIN snaps_gbc q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) "
        "EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'gbc.type' = 'file_sink', 'gbc.format' = 'parquet', "
        f"'gbc.path' = '{out}')"
    )
    got = {
        (r["k"], r["n"], r["sv"])
        for r in spark.read.schema("k int, n long, sv double").parquet(out).collect()
    }
    # EMIT FINAL: the 10:10-10:15 window holds max ts -> withheld.
    # window 10:00-10:05: k=0 events at +0,+2 (asof v=10.0 each);
    #   k=1 event at +1 (rt +5 not yet passed -> v NULL)
    # window 10:05-10:10: k=0 at +6 (v=10.0); k=1 at +7 (v=20.0)
    assert got == {(0, 2, 20.0), (1, 1, None), (0, 1, 10.0), (1, 1, 20.0)}


def test_streaming_range_join_bucket_width_prop(spark, tmp_path):
    """r12 verdict 'What's missing' #2: an explicit
    '<src>.range.bucket_width' WITH-prop removes the eager-aggregation
    blocker for a STREAMING ranges side — the bucketized operator routes
    (stateless explode + equi-join), where the no-prop form stays on
    Spark's own plan (test_rewrite_range_joins_leaves_streaming_right)."""
    src = str(tmp_path / "bw_ranges")
    spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 5.0, 30.0)], "rid int, lo double, hi double"
    ).write.parquet(src)
    out = str(tmp_path / "bw_out")
    e = SqlEngine(spark, time_col="t")
    e.register_table(
        "pts_bw",
        spark.createDataFrame(
            [(1, 5.0), (2, 25.0), (3, 50.0)], "pid int, v double"
        ),
    )
    e.execute_streaming(
        "CREATE STREAM bw_out AS "
        "SELECT p.pid, r.rid FROM pts_bw p JOIN rstr r "
        "ON p.v BETWEEN r.lo AND r.hi "
        f"WITH ('rstr.type' = 'file_source', 'rstr.path' = '{src}', "
        "'rstr.format' = 'parquet', 'rstr.range.bucket_width' = '10', "
        "'bw_out.type' = 'file_sink', 'bw_out.format' = 'parquet', "
        f"'bw_out.path' = '{out}')"
    )
    got = {
        (r["pid"], r["rid"])
        for r in spark.read.schema("pid int, rid int").parquet(out).collect()
    }
    assert got == {(1, 100), (1, 200), (2, 200)}


def test_range_bucket_width_prop_must_be_positive(spark, tmp_path):
    src = str(tmp_path / "bwbad_ranges")
    spark.createDataFrame(
        [(100, 0.0, 10.0)], "rid int, lo double, hi double"
    ).write.parquet(src)
    e = SqlEngine(spark, time_col="t")
    e.register_table(
        "pts_bwbad", spark.createDataFrame([(1, 5.0)], "pid int, v double")
    )
    with pytest.raises(ValueError, match="range.bucket_width"):
        e.execute_streaming(
            "CREATE STREAM bwbad_out AS "
            "SELECT p.pid, r.rid FROM pts_bwbad p JOIN rstr2 r "
            "ON p.v BETWEEN r.lo AND r.hi "
            f"WITH ('rstr2.type' = 'file_source', 'rstr2.path' = '{src}', "
            "'rstr2.format' = 'parquet', 'rstr2.range.bucket_width' = '0')",
            wait=False,
        )


def test_streaming_asof_sql_group_by_having_composes(spark, tmp_path):
    """HAVING rides the composed ASOF+GROUP BY statement unchanged: it
    filters the step-2 windowed aggregate (post-aggregation, exact)."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    lrows = [
        (i, i % 2, base + dt.timedelta(minutes=m))
        for i, m in enumerate([0, 1, 2, 6, 11])
    ]
    src = str(tmp_path / "gbh_in")
    spark.createDataFrame(lrows, "event_id int, k int, ts timestamp").write.mode(
        "overwrite"
    ).parquet(src)
    e.register_table(
        "snaps_gbh",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 5.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "gbh_out")
    e.execute_streaming(
        "CREATE STREAM gbh AS "
        "SELECT s.k, COUNT(*) AS n "
        "FROM s ASOF LEFT JOIN snaps_gbh q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "HAVING COUNT(*) >= 2 "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) "
        "EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'gbh.type' = 'file_sink', 'gbh.format' = 'parquet', "
        f"'gbh.path' = '{out}')"
    )
    got = {
        (r["k"], r["n"])
        for r in spark.read.schema("k int, n long").parquet(out).collect()
    }
    # window 9:00-9:05: k=0 at +0,+2 (n=2, passes HAVING); k=1 at +1
    # (n=1, filtered); window 9:05-9:10: k=0 at +6 (n=1, filtered);
    # the 9:10-9:15 window holds max ts -> withheld by EMIT FINAL
    assert got == {(0, 2)}


def test_streaming_asof_ss_group_by_composes(spark, tmp_path):
    """Stream-STREAM ASOF + windowed GROUP BY in one statement: chaining
    the stateful operator and the windowed aggregate in one query trips
    Spark's global-watermark correctness check, so the engine composes —
    the bucketed SS enrichment materializes to the intermediate parquet
    stream, then the watermarked aggregation runs over it."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    src_l = str(tmp_path / "ssgb_l")
    src_r = str(tmp_path / "ssgb_r")
    spark.createDataFrame(
        [(i, i % 2, base + dt.timedelta(minutes=m))
         for i, m in enumerate([0, 1, 2, 6, 11])],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src_l)
    spark.createDataFrame(
        [(0, base - dt.timedelta(minutes=1), 5.0)],
        "k int, rt timestamp, v double",
    ).write.parquet(src_r)
    out = str(tmp_path / "ssgb_out")
    e.execute_streaming(
        "CREATE STREAM ssgb AS "
        "SELECT s.k, COUNT(*) AS n, SUM(q.v) AS sv "
        "FROM s ASOF LEFT JOIN q ON s.k = q.k AND s.ts > q.rt "
        "GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src_l}', "
        "'s.format' = 'parquet', "
        f"'q.type' = 'file_source', 'q.path' = '{src_r}', "
        "'q.format' = 'parquet', "
        "'ssgb.type' = 'file_sink', 'ssgb.format' = 'parquet', "
        f"'ssgb.path' = '{out}')"
    )
    got = sorted(
        (r["k"], r["n"], r["sv"])
        for r in spark.read.schema("k int, n long, sv double").parquet(out).collect()
    )
    # window 10:00-10:05: k=0 events at +0,+2 (both match v=5.0);
    #   k=1 at +1 (no right for k=1 -> sv NULL); window 10:05-10:10:
    #   k=1 at +6; the 10:10-10:15 window holds max ts -> withheld
    assert got == [(0, 2, 10.0), (1, 1, None), (1, 1, None)]


def test_streaming_asof_sql_group_by_sliding_composes(spark, tmp_path):
    """The composition is window-shape-agnostic: a SLIDING window rides
    step 2 as the same native watermarked aggregation (each event lands
    in size/slide overlapping windows)."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 5, 1, 8, 0, 0)
    src = str(tmp_path / "gbs_in")
    spark.createDataFrame(
        [(i, 0, base + dt.timedelta(minutes=m))
         for i, m in enumerate([0, 1, 6, 11])],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src)
    e.register_table(
        "snaps_gbs",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 2.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "gbs_out")
    e.execute_streaming(
        "CREATE STREAM gbs AS "
        "SELECT s.k, COUNT(*) AS n "
        "FROM s ASOF LEFT JOIN snaps_gbs q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW SLIDING(INTERVAL '10' MINUTE, INTERVAL '5' MINUTE) "
        "EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'gbs.type' = 'file_sink', 'gbs.format' = 'parquet', "
        f"'gbs.path' = '{out}')"
    )
    got = sorted(
        r["n"]
        for r in spark.read.schema("k int, n long").parquet(out).collect()
    )
    # size 10 / slide 5 windows over events at +0,+1,+6,+11; max ts=+11
    # closes windows ending <= 8:11 -> [7:55-8:05): n=2, [8:00-8:10): n=3;
    # [8:05-8:15) and [8:10-8:20) hold +11 (end > watermark) -> withheld
    assert got == [2, 3]


def test_streaming_asof_sql_group_by_composes_matches_batch_on_random_data(
    spark, tmp_path
):
    """Property pin for the composition: on seeded random (key, ts, qty)
    data the composed streaming statement equals the batch two-step —
    operators/asof.py enrichment, then the tumbling aggregate — filtered
    by the EMIT FINAL closure rule (window end <= max left event time)."""
    import datetime as dt
    import random

    from pyspark.sql import functions as F

    from velostream_spark.operators.asof import asof_join

    rnd = random.Random(1313)
    base = dt.datetime(2025, 2, 1)
    lrows = [
        (
            i,
            rnd.randrange(4),
            base + dt.timedelta(seconds=rnd.randrange(0, 3600)),
            round(rnd.uniform(1, 9), 2),
        )
        for i in range(400)
    ]
    rrows = [
        (k, base + dt.timedelta(seconds=s), round(rnd.uniform(10, 20), 2))
        for k in range(3)  # key 3 never matches
        for s in rnd.sample(range(0, 3600), 20)
    ]
    ldf = spark.createDataFrame(
        lrows, "event_id int, k int, ts timestamp, qty double"
    )
    rdf = spark.createDataFrame(rrows, "k int, rt timestamp, px double")
    src = str(tmp_path / "prop_in")
    ldf.write.parquet(src)
    e = SqlEngine(spark, time_col="ts")
    e.register_table("quotes_prop", rdf)
    out = str(tmp_path / "prop_out")
    e.execute_streaming(
        "CREATE STREAM prop_gb AS "
        "SELECT s.k, COUNT(*) AS n, ROUND(SUM(s.qty * q.px), 2) AS notional "
        "FROM s ASOF LEFT JOIN quotes_prop q "
        "ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '10' MINUTE) EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'prop_gb.type' = 'file_sink', 'prop_gb.format' = 'parquet', "
        f"'prop_gb.path' = '{out}')"
    )
    got = sorted(
        (r["k"], r["n"], r["notional"])
        for r in spark.read.schema("k int, n long, notional double")
        .parquet(out)
        .collect()
    )
    enriched = asof_join(
        ldf, rdf.withColumnRenamed("rt", "ts"), key="k",
        left_ts="ts", right_ts="ts", payload=["px"], inclusive=True,
    )
    max_ts = ldf.agg(F.max("ts")).first()[0]
    want = sorted(
        (r["k"], r["n"], r["notional"])
        for r in enriched.groupBy(
            F.window("ts", "10 minutes").alias("w"), "k"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("qty") * F.col("asof_px")), 2).alias("notional"),
        )
        .where(F.col("w").end <= F.lit(max_ts))
        .select("k", "n", "notional")
        .collect()
    )
    assert got == want and len(got) > 10


def test_streaming_asof_sql_group_by_composes_memory_sink(spark, tmp_path):
    """The composed statement's default (memory) sink path: step 2's
    aggregate lands in a queryable table named like the stream."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 7, 1, 12, 0, 0)
    src = str(tmp_path / "gbm_in")
    spark.createDataFrame(
        [(i, 0, base + dt.timedelta(minutes=m)) for i, m in enumerate([0, 1, 6])],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src)
    e.register_table(
        "snaps_gbm",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 3.0)],
            "k int, rt timestamp, v double",
        ),
    )
    e.execute_streaming(
        "CREATE STREAM gbm AS "
        "SELECT s.k, COUNT(*) AS n "
        "FROM s ASOF LEFT JOIN snaps_gbm q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet')"
    )
    got = {(r["k"], r["n"]) for r in spark.table("gbm").collect()}
    # 12:00-12:05 closes (n=2); 12:05-12:10 holds max ts -> withheld
    assert got == {(0, 2)}


def test_streaming_asof_sql_group_by_session_composes(spark, tmp_path):
    """SESSION windows ride the composition too: step 2 plans Spark's
    session-merge exec under the watermark; a session closes (and emits,
    EMIT FINAL) only when the watermark passes its end."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 9, 1, 9, 0, 0)
    src = str(tmp_path / "gbss_in")
    # k=0: events at +0,+5 min (one session, gap 10) then +40 (session
    # still open at max ts -> withheld); k=1: event at +1 (its session
    # [+1, +11) closes before max ts +40 -> emitted)
    spark.createDataFrame(
        [(0, 0, base), (1, 1, base + dt.timedelta(minutes=1)),
         (2, 0, base + dt.timedelta(minutes=5)),
         (3, 0, base + dt.timedelta(minutes=40))],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src)
    e.register_table(
        "snaps_gbses",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 4.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "gbss_out")
    e.execute_streaming(
        "CREATE STREAM gbses AS "
        "SELECT s.k, COUNT(*) AS n, SUM(q.v) AS sv "
        "FROM s ASOF LEFT JOIN snaps_gbses q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW SESSION(INTERVAL '10' MINUTE) "
        "EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'gbses.type' = 'file_sink', 'gbses.format' = 'parquet', "
        f"'gbses.path' = '{out}')"
    )
    got = sorted(
        (r["k"], r["n"], r["sv"])
        for r in spark.read.schema("k int, n long, sv double").parquet(out).collect()
    )
    # k=0 session {+0,+5} closes at +15 <= +40 watermark -> (0, 2, 8.0);
    # k=1 session {+1} closes at +11 -> (1, 1, NULL: no right for k=1);
    # k=0 session {+40} open -> withheld
    assert got == [(0, 2, 8.0), (1, 1, None)]


def test_rebind_guard_skips_scalar_function_froms(eng):
    """ADVICE r13 (medium): EXTRACT(HOUR FROM l.ts) / TRIM(BOTH 'x' FROM
    col) carry a FROM that binds NO relation — the rebind guard must not
    read them as a nested scope rebinding the join alias."""
    chk = eng._check_alias_rebind
    # dotted use inside EXTRACT: a FROM cannot bind a name that continues
    # as a dotted reference
    chk("SELECT EXTRACT(HOUR FROM l.ts) AS h WHERE l.v > 0", ("l", "lt"))
    # bare use that COINCIDES with the alias name: the FROM sits inside
    # TRIM's / SUBSTRING's argument list, so it binds nothing
    chk("SELECT TRIM(BOTH 'x' FROM l2) AS t WHERE l2.v > 0", ("l2",))
    chk("SELECT SUBSTRING(l2 FROM 2 FOR 3) AS s WHERE l2.v > 0", ("l2",))
    chk("SELECT OVERLAY(l2 PLACING 'x' FROM 2) AS o WHERE l2.v > 0", ("l2",))
    # a genuine rebind + dereference still trips
    with pytest.raises(ValueError, match="rebound"):
        chk("WHERE EXISTS (SELECT 1 FROM other l WHERE l.x = 1)", ("l",))
    # and prefix backtracking cannot manufacture a match: FROM abc.x with
    # alias 'ab' must not read as a binding of 'ab'
    chk("SELECT 1 FROM abc.x WHERE ab.v > 0", ("ab",))


def test_rebind_guard_catches_qualified_from(eng):
    """ADVICE r14: the EXTRACT-fix lookahead must not blind the guard to
    DOT-QUALIFIED relation rebinds — ``FROM global_temp.v l`` rebinds
    ``l`` exactly like an unqualified FROM does."""
    chk = eng._check_alias_rebind
    with pytest.raises(ValueError, match="rebound"):
        chk("WHERE EXISTS (SELECT 1 FROM global_temp.v l WHERE l.x = 1)", ("l",))
    with pytest.raises(ValueError, match="rebound"):
        chk("WHERE EXISTS (SELECT 1 FROM sch.tbl AS q WHERE q.x = 1)", ("q",))
    # a qualified relation whose LAST segment coincides with the alias is
    # an implicit rebind of that name too
    with pytest.raises(ValueError, match="rebound"):
        chk("WHERE EXISTS (SELECT 1 FROM sch.l WHERE l.x = 1)", ("l",))
    # no dereference -> still harmless, qualified or not
    chk("WHERE EXISTS (SELECT 1 FROM global_temp.v l)", ("l",))


def test_asof_extract_in_select_executes(eng):
    """End-to-end ADVICE r13 repro: a valid ASOF query whose SELECT uses
    EXTRACT(... FROM alias.col) must execute, not hard-fail."""
    rows = eng.execute(
        "SELECT a.tag, EXTRACT(DAY FROM CAST('2024-01-02' AS DATE)) AS d, "
        "b.v FROM lt a ASOF LEFT JOIN rt_tbl b "
        "ON a.k = b.k AND a.t >= b.rt WHERE a.k = 1"
    ).collect()
    assert {(r["tag"], r["d"], r["v"]) for r in rows} == {
        ("a", 2, 10.0), ("b", 2, 20.0), ("early", 2, None)
    }


def test_batchwise_guard_sees_wrapped_aggregates(eng):
    """ADVICE r13 (medium): a global aggregate WRAPPED in a scalar call
    (ROUND(SUM(v),2), CAST(COUNT(*) AS INT)) is still a per-batch-partial
    emitter — the guard must see through the wrapper parens."""
    guard = eng._assert_batchwise_exact
    for sql in (
        "SELECT ROUND(SUM(q.v), 2) AS sv FROM s",
        "SELECT CAST(COUNT(*) AS INT) AS c FROM s",
        "SELECT COALESCE(MAX(q.v), 0.0) AS m FROM s",
    ):
        with pytest.raises(NotImplementedError, match="global aggregate"):
            guard(sql)
    # subquery-scoped aggregates are the subquery's own; names that merely
    # look like aggregates (columns, literals) never trip
    guard("SELECT s.k, q.v FROM s WHERE s.t > (SELECT MAX(rt) FROM q2)")
    guard("SELECT s.sum AS total, 'SUM(x)' AS note FROM s")
    # an OVER hidden inside a wrapper call is caught as a window function
    with pytest.raises(NotImplementedError, match="OVER"):
        guard("SELECT ROUND(AVG(s.v) OVER (PARTITION BY s.k), 2) AS a FROM s")


def test_streaming_asof_wrapped_aggregate_fails_fast(spark, tmp_path):
    """End-to-end ADVICE r13 repro on the foreachBatch route."""
    e, src = _fb_asof_engine(spark, tmp_path, [(1, 5, "a")], [(1, 4, 9.0)])
    with pytest.raises(NotImplementedError, match="global aggregate"):
        e.execute_streaming(
            "CREATE STREAM aggw AS SELECT ROUND(SUM(q.v), 2) AS sv "
            "FROM s ASOF LEFT JOIN quotes_fb q ON s.k = q.k AND s.t >= q.rt "
            f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
            "'s.format' = 'parquet')",
            wait=False,
        )


def test_two_concurrent_asof_fb_jobs_no_view_cross_drop(spark, tmp_path):
    """r13 verdict task 2: TWO foreachBatch ASOF jobs deployed
    CONCURRENTLY in one SparkContext must not drop each other's in-flight
    _asof_join_N rewrite views (the pre-r14 numeric-range cleanup could).
    Each callback now drops exactly the view names its own _sql() call
    minted (thread-local accumulator + a counter lock)."""
    e = SqlEngine(spark, time_col="t")
    srcs, sinks = [], []
    for j in range(2):
        src = str(tmp_path / f"cc_in{j}")
        spark.createDataFrame(
            [(k, t, f"j{j}k{k}t{t}") for k in (1, 2) for t in (5, 9)],
            "k int, t int, tag string",
        ).write.parquet(src)
        srcs.append(src)
        sinks.append(str(tmp_path / f"cc_out{j}"))
    e.register_table(
        "quotes_cc",
        spark.createDataFrame(
            [(1, 4, 10.0), (2, 8, 30.0)], "k int, rt int, v double"
        ),
    )
    # maxFilesPerTrigger=1 via @batch_size keeps several batches in flight
    # per job so the two callbacks genuinely interleave
    for j in range(2):
        e.execute_streaming(
            f"CREATE STREAM cc{j} AS SELECT ccs{j}.tag, q.v "
            f"FROM ccs{j} ASOF LEFT JOIN quotes_cc q "
            f"ON ccs{j}.k = q.k AND ccs{j}.t >= q.rt\n"
            "-- @batch_size: 1\n"
            f"WITH ('ccs{j}.type' = 'file_source', 'ccs{j}.path' = '{srcs[j]}', "
            f"'ccs{j}.format' = 'parquet', 'cc{j}.type' = 'file_sink', "
            f"'cc{j}.format' = 'parquet', 'cc{j}.path' = '{sinks[j]}')",
            wait=False,
        )
    # wait=False deploys are CONTINUOUS: wait() drains (the jobs stay
    # running), and the test must stop them or they poll for the rest of
    # the suite
    e.jobs.wait("cc0")
    e.jobs.wait("cc1")
    from velostream_spark.sql.engine import _read_fb_sink

    try:
        for j in range(2):
            got = {
                (r["tag"], r["v"])
                for r in _read_fb_sink(spark, sinks[j]).collect()
            }
            assert got == {
                (f"j{j}k1t5", 10.0), (f"j{j}k1t9", 10.0),
                (f"j{j}k2t5", None), (f"j{j}k2t9", 30.0),
            }, f"job {j} lost rows (cross-job view drop?)"
    finally:
        e.jobs.stop("cc0")
        e.jobs.stop("cc1")


def test_streaming_asof_groupby_composes_unbounded(spark, tmp_path):
    """r13 verdict task 4: the composition no longer needs wait=True — a
    no-wait deploy runs BOTH steps as continuous jobs with the
    intermediate schema derived from the enrichment plan (no files read),
    and an empty-at-deploy source is a non-event (ADVICE r13 #4). Feed
    after deploy, poll the sink, stop through the jobs registry."""
    import datetime as dt
    import time

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    src = str(tmp_path / "nw_in")
    # the SOURCE needs one file for its schema inference; the
    # INTERMEDIATE is the empty-at-deploy dir ADVICE #4 names — step 2
    # wires it before step 1 has materialized anything
    spark.createDataFrame(
        [(1, 0, base), (2, 0, base + dt.timedelta(minutes=2))],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src)
    e.register_table(
        "snaps_nw",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 10.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "nw_out")
    job = e.execute_streaming(
        "CREATE STREAM nwgb AS "
        "SELECT s.k, COUNT(*) AS n, ROUND(SUM(q.v), 2) AS sv "
        "FROM s ASOF LEFT JOIN snaps_nw q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) "
        "EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'nwgb.type' = 'file_sink', 'nwgb.format' = 'parquet', "
        f"'nwgb.path' = '{out}')",
        wait=False,
    )
    assert job is not None
    try:
        # both steps registered and running unbounded
        states = {j["name"]: j["active"] for j in e.jobs.show_jobs()}
        assert states.get("nwgb") and states.get("_nwgb_enriched")
        # feed AFTER deploy: one event at +11 min advances the watermark
        # past the 8:00-8:05 window end -> EMIT FINAL releases it
        spark.createDataFrame(
            [(3, 0, base + dt.timedelta(minutes=11))],
            "event_id int, k int, ts timestamp",
        ).write.mode("append").parquet(src)
        got = set()
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {
                (r["k"], r["n"], r["sv"])
                for r in spark.read.schema("k int, n long, sv double")
                .parquet(out)
                .collect()
            }
            if got:
                break
            time.sleep(2)
        assert got == {(0, 2, 20.0)}
    finally:
        e.jobs.stop("nwgb")
        e.jobs.stop("_nwgb_enriched")


def test_recursive_source_prop_reads_fb_sink_layout(spark, tmp_path):
    """'<src>.recursive' = 'true' lets a LATER statement consume a
    foreachBatch file sink's per-batch-subdir layout, batch or streaming."""
    from velostream_spark.sql.engine import _write_batch_idempotent

    d = str(tmp_path / "fbout")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    _write_batch_idempotent(df, d, "parquet", 0)
    _write_batch_idempotent(df.where("k = 1"), d, "parquet", 1)
    e = SqlEngine(spark, time_col="t")
    rows = e.execute(
        "CREATE STREAM rconsume AS SELECT k, s FROM fbsrc "
        f"WITH ('fbsrc.type' = 'file_source', 'fbsrc.path' = '{d}', "
        "'fbsrc.format' = 'parquet', 'fbsrc.recursive' = 'true')"
    ).collect()
    assert sorted((r["k"], r["s"]) for r in rows) == [(1, "a"), (1, "a"), (2, "b")]


def test_streaming_asof_groupby_emit_changes_composes(spark, tmp_path):
    """r14: EMIT CHANGES on the composed ASOF+GROUP BY shape (the r13
    fail-fast, now lifted): step 2 deploys in update mode — the
    per-batch-delta changelog through the foreachBatch subdir writer.
    Unlike EMIT FINAL, no window is withheld (the trailing open window is
    visible) and a window touched by two micro-batches re-emits; the LAST
    update per window equals the batch two-step aggregate."""
    import datetime as dt

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 6, 1, 9, 0, 0)
    src = str(tmp_path / "ecc_in")
    # chunk 1: two k=0 events in the 9:00-9:05 window; chunk 2: one more
    # in the SAME window (re-emission) + one at +6 min (second window)
    spark.createDataFrame(
        [(1, 0, base), (2, 0, base + dt.timedelta(minutes=1))],
        "event_id int, k int, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, 0, base + dt.timedelta(minutes=2)),
         (4, 0, base + dt.timedelta(minutes=6))],
        "event_id int, k int, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    e.register_table(
        "snaps_ecc",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 10.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "ecc_out")
    e.execute_streaming(
        "CREATE STREAM ecc AS "
        "SELECT s.k, COUNT(*) AS n, ROUND(SUM(q.v), 2) AS sv "
        "FROM s ASOF LEFT JOIN snaps_ecc q ON s.k = q.k AND s.ts >= q.rt "
        "GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) "
        "EMIT CHANGES\n"
        "-- @batch_size: 1\n"
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', "
        "'ecc.type' = 'file_sink', 'ecc.format' = 'parquet', "
        f"'ecc.path' = '{out}')"
    )
    assert e.jobs.jobs["ecc"].output_mode == "update"
    rows = _read_fb_sink(spark, out).collect()
    # the EXACT changelog: batch 0 emits window 1 at n=2; batch 1
    # re-emits it at n=3 and emits the (still open) window 2 at n=1 —
    # EMIT FINAL would have withheld that trailing window
    seen = sorted((r["k"], r["n"], r["sv"]) for r in rows)
    assert seen == [(0, 1, 10.0), (0, 2, 20.0), (0, 3, 30.0)], seen


def test_deploy_job_versioned_asof_enrichment_canary(spark, tmp_path):
    """r14 verdict task 2: DEPLOY JOB carries the foreachBatch ASOF
    enrichment route through deploy_version — v2 deploys as a CANARY
    alongside v1 (both versions recorded, the new one serving), and the
    versioned job's writer IS the per-batch enrichment function."""
    from velostream_spark.sql.engine import _read_fb_sink

    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "avdep_in")
    spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (2, 7, "c")], "k int, t int, tag string"
    ).write.mode("overwrite").parquet(src)
    e.register_table(
        "quotes_vdep",
        spark.createDataFrame(
            [(1, 4, 9.0), (2, 6, 5.0)], "k int, rt int, v double"
        ),
    )
    out1, out2 = str(tmp_path / "avdep_o1"), str(tmp_path / "avdep_o2")
    e.execute_streaming(
        "DEPLOY JOB asofv VERSION '1.0' AS "
        "SELECT avs.k, avs.tag, q.v "
        "FROM avs ASOF LEFT JOIN quotes_vdep q "
        "ON avs.k = q.k AND avs.t >= q.rt "
        f"WITH ('avs.type' = 'file_source', 'avs.path' = '{src}', "
        "'avs.format' = 'parquet', "
        "'asofv.type' = 'file_sink', 'asofv.format' = 'parquet', "
        f"'asofv.path' = '{out1}')"
    )
    got = {(r["tag"], r["v"]) for r in _read_fb_sink(spark, out1).collect()}
    assert got == {("a", 9.0), ("b", 9.0), ("c", 5.0)}
    assert e.jobs.jobs["asofv"].foreach_batch is not None

    e.execute_streaming(
        "DEPLOY JOB asofv VERSION '2.0' STRATEGY CANARY(25) AS "
        "SELECT avs.k, avs.tag, ROUND(q.v * 2, 1) AS v2 "
        "FROM avs ASOF LEFT JOIN quotes_vdep q "
        "ON avs.k = q.k AND avs.t >= q.rt "
        f"WITH ('avs.type' = 'file_source', 'avs.path' = '{src}', "
        "'avs.format' = 'parquet', "
        "'asofv.type' = 'file_sink', 'asofv.format' = 'parquet', "
        f"'asofv.path' = '{out2}')"
    )
    got2 = {(r["tag"], r["v2"]) for r in _read_fb_sink(spark, out2).collect()}
    assert got2 == {("a", 18.0), ("b", 18.0), ("c", 10.0)}
    versions = e.jobs.show_versions("asofv")
    assert [v["version"] for v in versions] == ["1.0", "2.0"]
    assert versions[1]["strategy"] == "canary(25%)"
    assert versions[1]["current"] and not versions[0]["current"]
    # canary keeps the previous version reachable in the registry
    assert "asofv__prev" in e.jobs.jobs


def test_deploy_job_versioned_composed_asof_groupby(spark, tmp_path):
    """r14 verdict task 2 (composed shape): DEPLOY JOB over ASOF JOIN +
    windowed GROUP BY versions the two-step composition — step 2 rides
    deploy_version, the enrichment intermediate is per-version, and a
    REPLACE redeploy retires the old version's enrichment job."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = str(tmp_path / "cvdep_in")
    spark.createDataFrame(
        [(i, 0, base + dt.timedelta(minutes=m))
         for i, m in enumerate([0, 1, 2, 6])],
        "event_id int, k int, ts timestamp",
    ).write.mode("overwrite").parquet(src)
    e.register_table(
        "snaps_cvdep",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 10.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out1, out2 = str(tmp_path / "cvdep_o1"), str(tmp_path / "cvdep_o2")
    stmt = (
        "DEPLOY JOB cmpv VERSION '{v}' {strat}AS "
        "SELECT cvs.k, COUNT(*) AS n, ROUND(SUM(q.v) * {mult}, 2) AS sv "
        "FROM cvs ASOF LEFT JOIN snaps_cvdep q "
        "ON cvs.k = q.k AND cvs.ts >= q.rt "
        "GROUP BY cvs.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT FINAL "
        "WITH ('cvs.type' = 'file_source', 'cvs.path' = '" + src + "', "
        "'cvs.format' = 'parquet', "
        "'cmpv.type' = 'file_sink', 'cmpv.format' = 'parquet', "
        "'cmpv.path' = '{out}')"
    )
    e.execute_streaming(stmt.format(v="1", strat="", mult="1", out=out1))
    got = {
        (r["k"], r["n"], r["sv"])
        for r in spark.read.schema("k int, n long, sv double")
        .parquet(out1).collect()
    }
    # window 10:00-10:05 closes (max ts 10:06): 3 events, v=10 each
    assert got == {(0, 3, 30.0)}
    inter_v1 = "_cmpv_enriched__1"
    assert inter_v1 in e.jobs.jobs

    e.execute_streaming(stmt.format(v="2", strat="", mult="2", out=out2))
    got2 = {
        (r["k"], r["n"], r["sv"])
        for r in spark.read.schema("k int, n long, sv double")
        .parquet(out2).collect()
    }
    assert got2 == {(0, 3, 60.0)}
    # the v2 composition serves; v1's enrichment job was retired
    assert e.jobs.current_version["cmpv"] == "2"
    assert "_cmpv_enriched__2" in e.jobs.jobs
    assert e.jobs.jobs[inter_v1].state in ("stopped", "failed")
    versions = e.jobs.show_versions("cmpv")
    assert [v["version"] for v in versions] == ["1", "2"]


def test_stage_dirs_invisible_to_readers(spark, tmp_path):
    """The staged-commit protocol's load-bearing property: part files
    under a hidden ``_stage_b<id>/`` dir are invisible to BOTH reader
    shapes that consume fb sinks — the recursive batch reader and a
    streaming file source over the directory (Spark's underscore/dot
    path filter applies to every listing level)."""
    from velostream_spark.sql.engine import _read_fb_sink, _write_batch_idempotent
    from velostream_spark.streaming.runner import run_available_now
    from velostream_spark.streaming.source import stream_parquet

    out_dir = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    _write_batch_idempotent(df, out_dir, "parquet", 0)
    # plant a staged (uncommitted) attempt holding REAL parquet rows
    df2 = spark.createDataFrame([(9, "z")], "k int, s string")
    df2.write.parquet(os.path.join(out_dir, "_stage_b1"))
    assert {r["k"] for r in _read_fb_sink(spark, out_dir).collect()} == {1, 2}
    sdf = stream_parquet(
        spark, out_dir, schema=df.schema, max_files_per_trigger=10,
        recursive=True,
    )
    got = run_available_now(sdf, "append", "stage_invis")
    assert {r["k"] for r in got.collect()} == {1, 2}


def test_deploy_job_composed_redeploy_and_rollback(spark, tmp_path):
    """r15 review findings: (a) re-deploying the SAME version of a
    composed ASOF+GROUP BY job stops its previous enrichment BEFORE
    step 1 reuses the job name (the old ordering raised 'already
    running' or killed the new enrichment); (b) ROLLBACK restarts the
    target version's enrichment job from its checkpoint and updates the
    intermediate bookkeeping, so the rolled-back aggregation keeps
    receiving data instead of reading a frozen intermediate."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = str(tmp_path / "crb_in")
    spark.createDataFrame(
        [(i, 0, base + dt.timedelta(minutes=m))
         for i, m in enumerate([0, 1, 2, 6])],
        "event_id int, k int, ts timestamp",
    ).write.mode("overwrite").parquet(src)
    e.register_table(
        "snaps_crb",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 10.0)],
            "k int, rt timestamp, v double",
        ),
    )
    stmt = (
        "DEPLOY JOB crbj VERSION '{v}' AS "
        "SELECT crbs.k, COUNT(*) AS n, ROUND(SUM(q.v) * {mult}, 2) AS sv "
        "FROM crbs ASOF LEFT JOIN snaps_crb q "
        "ON crbs.k = q.k AND crbs.ts >= q.rt "
        "GROUP BY crbs.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT FINAL "
        "WITH ('crbs.type' = 'file_source', 'crbs.path' = '" + src + "', "
        "'crbs.format' = 'parquet', "
        "'crbj.type' = 'file_sink', 'crbj.format' = 'parquet', "
        "'crbj.path' = '{out}')"
    )
    out1 = str(tmp_path / "crb_o1")
    e.execute_streaming(stmt.format(v="1", mult="1", out=out1))
    # (a) SAME-version redeploy: must not raise, old enrichment retired
    e.execute_streaming(stmt.format(v="1", mult="1", out=out1))
    assert e._composed_intermediates["crbj"] == "_crbj_enriched__1"

    out2 = str(tmp_path / "crb_o2")
    e.execute_streaming(stmt.format(v="2", mult="2", out=out2))
    assert e.jobs.jobs["_crbj_enriched__1"].state in ("stopped", "failed")
    assert e._composed_intermediates["crbj"] == "_crbj_enriched__2"

    # rows arriving while v2 serves: the rolled-back v1 must pick these
    # up — its enrichment restarts AND DRAINS before v1's step 2 takes
    # its availableNow snapshot (the r15 ordering finding); the late
    # timestamps also advance the watermark past the 10:05-10:10 window
    spark.createDataFrame(
        [(10, 0, base + dt.timedelta(minutes=20)),
         (11, 0, base + dt.timedelta(minutes=21))],
        "event_id int, k int, ts timestamp",
    ).write.mode("append").parquet(src)

    # (b) rollback: v1's enrichment restarts (bounded -> drains to
    # 'stopped'), v2's retires, bookkeeping follows the serving version
    e.execute("ROLLBACK JOB crbj TO VERSION '1'")
    e.jobs.wait("crbj")
    assert e.jobs.current_version["crbj"] == "1"
    assert e._composed_intermediates["crbj"] == "_crbj_enriched__1"
    assert e.jobs.jobs["_crbj_enriched__1"].state in ("running", "stopped")
    assert e.jobs.jobs["_crbj_enriched__2"].state in ("stopped", "failed")
    got = {
        (r["n"], r["sv"]) for r in spark.read.parquet(out1).collect()
    }
    # the 10:05-10:10 window (the 10:06 event) closed only via the
    # interim rows' watermark advance: frozen-intermediate rollback
    # would never emit it
    assert (1, 10.0) in got, got
    assert (3, 30.0) in got, got


def test_start_job_asof_plain_sink_layout(spark, tmp_path):
    """r15 review finding: START JOB parses without a VERSION
    (job_version None) — the ASOF foreachBatch route must deploy it as a
    PLAIN named job writing b<id>/ batches directly to the configured
    sink path, not a versioned layout with a literal 'vNone/' subdir and
    _CURRENT='vNone'."""
    import os as _os

    from velostream_spark.sql.engine import SqlEngine, _read_fb_sink

    e = SqlEngine(spark, time_col="t")
    src = str(tmp_path / "sjp_in")
    spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b")], "k int, t int, tag string"
    ).write.parquet(src)
    e.register_table(
        "quotes_sjp",
        spark.createDataFrame([(1, 4, 10.0)], "k int, rt int, v double"),
    )
    out = str(tmp_path / "sjp_out")
    e.execute_streaming(
        "START JOB sjp AS SELECT sjs.tag, q.v "
        "FROM sjs ASOF LEFT JOIN quotes_sjp q "
        "ON sjs.k = q.k AND sjs.t >= q.rt "
        f"WITH ('sjs.type' = 'file_source', 'sjs.path' = '{src}', "
        "'sjs.format' = 'parquet', 'sjp.type' = 'file_sink', "
        f"'sjp.format' = 'parquet', 'sjp.path' = '{out}')"
    )
    names = set(_os.listdir(out))
    assert not any(n.startswith("v") for n in names), names
    assert not _os.path.exists(_os.path.join(out, "_CURRENT"))
    assert "b0" in names, names
    got = sorted(
        (r["tag"], r["v"]) for r in _read_fb_sink(spark, out).collect()
    )
    assert got == [("a", 10.0), ("b", 10.0)]
    assert "sjp" not in e._versioned_sinks


def test_deploy_job_emit_final_same_path_across_versions_rejected(
    spark, tmp_path
):
    """SQL-surface pin for the native-sink clash guard: a versioned
    composed EMIT FINAL job writes through Spark's NATIVE append file
    sink (no foreachBatch), so a second VERSION deploying to the SAME
    path must fail fast — its fresh checkpoint restarts batch ids at 0
    and the sink's _spark_metadata log would silently skip them as the
    first version's committed replays."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 5, 1, 9, 0, 0)
    src = str(tmp_path / "svp_in")
    spark.createDataFrame(
        [(1, 0, base), (2, 0, base + dt.timedelta(minutes=6))],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src)
    e.register_table(
        "snaps_svp",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 5.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "svp_out")
    stmt = (
        "DEPLOY JOB svp VERSION '{v}' AS "
        "SELECT s.k, COUNT(*) AS n FROM s ASOF LEFT JOIN snaps_svp q "
        "ON s.k = q.k AND s.ts >= q.rt GROUP BY s.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT FINAL "
        f"WITH ('s.type' = 'file_source', 's.path' = '{src}', "
        "'s.format' = 'parquet', 'svp.type' = 'file_sink', "
        f"'svp.format' = 'parquet', 'svp.path' = '{out}')"
    )
    e.execute_streaming(stmt.format(v="1"))
    with pytest.raises(ValueError, match="_spark_metadata|own sink path"):
        e.execute_streaming(stmt.format(v="2"))


def test_rejected_versioned_composed_deploy_stops_orphan_enrichment(
    spark, tmp_path
):
    """A step-2 rejection (the clash guard) must not leave the NEW
    version's already-deployed enrichment running as an orphan, and the
    serving deployment keeps working untouched."""
    import datetime as dt

    e = SqlEngine(spark, time_col="ts")
    base = dt.datetime(2024, 6, 1, 9, 0, 0)
    src = str(tmp_path / "orp_in")
    spark.createDataFrame(
        [(1, 0, base), (2, 0, base + dt.timedelta(minutes=6))],
        "event_id int, k int, ts timestamp",
    ).write.parquet(src)
    e.register_table(
        "snaps_orp",
        spark.createDataFrame(
            [(0, base - dt.timedelta(minutes=1), 5.0)],
            "k int, rt timestamp, v double",
        ),
    )
    out = str(tmp_path / "orp_out")
    stmt = (
        "DEPLOY JOB orp VERSION '{v}' AS "
        "SELECT s2.k, COUNT(*) AS n FROM s2 ASOF LEFT JOIN snaps_orp q "
        "ON s2.k = q.k AND s2.ts >= q.rt GROUP BY s2.k "
        "WINDOW TUMBLING(INTERVAL '5' MINUTE) EMIT FINAL "
        f"WITH ('s2.type' = 'file_source', 's2.path' = '{src}', "
        "'s2.format' = 'parquet', 'orp.type' = 'file_sink', "
        f"'orp.format' = 'parquet', 'orp.path' = '{out}')"
    )
    e.execute_streaming(stmt.format(v="1"))
    with pytest.raises(ValueError):
        e.execute_streaming(stmt.format(v="2"))
    orphan = e.jobs.jobs.get("_orp_enriched__2")
    assert orphan is not None and orphan.state in ("stopped", "failed")
    # serving bookkeeping untouched
    assert e._composed_intermediates["orp"] == "_orp_enriched__1"
    assert e.jobs.current_version["orp"] == "1"
