"""Dialect + engine tests: velostream SQL text (reference grammar,
docs/sql/PARSER_GRAMMAR.md; demo apps demo/quickstart, demo/1brc) executed
on Spark, checked against directly-built DataFrames or DuckDB.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from velostream_spark.session import load_tables
from velostream_spark.sql.dialect import (
    parse_duration,
    parse_statement,
    split_statements,
    translate_select,
)
from velostream_spark.sql.engine import SqlEngine


@pytest.fixture()
def engine(spark):
    eng = SqlEngine(spark, time_col="ts")
    for name, df in load_tables(spark, SF_SMOKE, register_views=False).items():
        eng.register_stream(name, df)
    return eng


# -- parsing units -----------------------------------------------------------


@pytest.mark.parametrize(
    "text,expected",
    [
        ("INTERVAL '5' MINUTE", "5 minutes"),
        ("INTERVAL '30' SECOND", "30 seconds"),
        ("5 MINUTE", "5 minutes"),
        ("100ms", "100 milliseconds"),
        ("2h", "2 hours"),
        ("1 DAY", "1 days"),
    ],
)
def test_parse_duration(text, expected):
    assert parse_duration(text) == expected


def test_translate_rows_window_over():
    sql, _, _, _ = translate_select(
        "SELECT symbol, AVG(price) OVER (ROWS WINDOW BUFFER 100 ROWS "
        "PARTITION BY symbol ORDER BY ts) AS ma FROM trades"
    )
    assert "ROWS WINDOW" not in sql.upper()
    assert "ROWS BETWEEN 99 PRECEDING AND CURRENT ROW" in sql


def test_translate_function_renames():
    sql, _, _, _ = translate_select(
        "SELECT JSON_EXTRACT(props, '$.a') AS a, COUNT_DISTINCT(u) AS d, "
        "EXTRACT('EPOCH', ts) AS e, NOW() AS n FROM t"
    )
    assert "get_json_object(props, '$.a')" in sql
    assert "count(DISTINCT u)" in sql
    assert "unix_timestamp(ts)" in sql
    assert "current_timestamp()" in sql


def test_primary_key_annotation():
    st = parse_statement(
        "SELECT region PRIMARY KEY, product AS p PRIMARY KEY, SUM(q) AS s "
        "FROM orders GROUP BY region, product"
    )
    assert st.key_fields == ["region", "p"]
    assert "PRIMARY KEY" not in st.select_sql.upper()


def test_parse_csas_with_emit_and_props():
    st = parse_statement(
        """
        -- @job_mode: adaptive
        CREATE STREAM results AS
        SELECT station, MIN(t) AS mn FROM measurements GROUP BY station
        EMIT FINAL
        WITH ('measurements.type' = 'file_source',
              'measurements.path' = './m.csv',
              'results.type' = 'file_sink', 'results.path' = './out.csv');
        """
    )
    assert st.kind == "create_stream" and st.name == "results"
    assert st.emit == "final"
    assert st.with_props["measurements.type"] == "file_source"
    assert st.annotations["job_mode"] == "adaptive"
    assert "EMIT" not in st.select_sql.upper()


def test_split_statements_app_file():
    stmts = split_statements(
        """
        -- comment with ; inside
        CREATE TABLE t1 AS SELECT 1 AS a;
        SELECT * FROM t1 WHERE a = ';' OR a = 1;
        """
    )
    assert len(stmts) == 2


# -- execution ---------------------------------------------------------------


def test_1brc_style_csas_file_roundtrip(spark, tmp_path):
    """The 1BRC pipeline (demo/1brc/1brc.sql shape): CSV file source →
    GROUP BY MIN/AVG/MAX → CSV file sink, run from pure SQL text."""
    src = tmp_path / "measurements.csv"
    src.write_text(
        "station;temperature\n"
        "oslo;10.5\noslo;-3.0\nparis;21.0\nparis;15.0\nparis;18.0\n"
    )
    out = str(tmp_path / "out_csv")
    eng = SqlEngine(spark)
    df = eng.execute(
        f"""
        -- @job_mode: adaptive
        CREATE STREAM results AS
        SELECT station,
               MIN(temperature) AS min_temp,
               ROUND(AVG(temperature), 4) AS avg_temp,
               MAX(temperature) AS max_temp
        FROM measurements
        GROUP BY station
        EMIT FINAL
        WITH (
            'measurements.type' = 'file_source_mmap',
            'measurements.path' = '{src}',
            'measurements.format' = 'csv',
            'measurements.delimiter' = ';',
            'results.type' = 'file_sink',
            'results.path' = '{out}',
            'results.format' = 'csv'
        );
        """
    )
    got = {r["station"]: r for r in df.collect()}
    assert got["oslo"]["min_temp"] == -3.0 and got["oslo"]["max_temp"] == 10.5
    assert abs(got["paris"]["avg_temp"] - 18.0) < 1e-9
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 2
    assert eng.last_annotations["job_mode"] == "adaptive"


def test_window_tumbling_dialect_matches_spark(spark, engine):
    """WINDOW TUMBLING(INTERVAL '5' MINUTE) == F.window(ts, '5 minutes')."""
    got = engine.execute(
        """
        SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
        FROM events
        GROUP BY event_type
        WINDOW TUMBLING(INTERVAL '5' MINUTE)
        """
    )
    ev = load_tables(spark, SF_SMOKE, register_views=False)["events"]
    want = (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select("event_type", "n", "total")
    )
    assert sorted(map(tuple, got.select("event_type", "n", "total").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_window_session_dialect(spark, engine):
    got = engine.execute(
        """
        SELECT user_id, COUNT(*) AS n
        FROM events
        GROUP BY user_id
        WINDOW SESSION(INTERVAL '30' MINUTE)
        """
    )
    ev = load_tables(spark, SF_SMOKE, register_views=False)["events"]
    want = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
    )
    assert sorted(map(tuple, got.select("user_id", "n").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_rows_window_over_execution(spark, engine):
    got = engine.execute(
        """
        SELECT user_id, event_id,
               AVG(value) OVER (ROWS WINDOW BUFFER 5 ROWS
                                PARTITION BY user_id ORDER BY event_id) AS ma
        FROM events
        """
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_SMOKE}/events.parquet')"
    )
    want = con.execute(
        """
        SELECT user_id, event_id,
               AVG(value) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma
        FROM events
        """
    ).df()
    got = got.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    want = want.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["ma"] - want["ma"]).abs().max() < 1e-9


def test_ctas_and_point_lookup(spark, engine):
    engine.execute(
        "CREATE TABLE user_totals AS "
        "SELECT user_id PRIMARY KEY, COUNT(*) AS n, ROUND(SUM(value),4) AS total "
        "FROM events GROUP BY user_id"
    )
    mt = engine.tables["user_totals"]
    ev = load_tables(spark, SF_SMOKE, register_views=False)["events"]
    uid = ev.select("user_id").first()[0]
    want = ev.where(F.col("user_id") == uid).count()
    assert mt.get_record(uid)["n"] == want
    assert mt.contains_key(uid)
    assert mt.sql_filter(f"user_id = {uid}").count() == 1
    # registered as a view → usable from later SQL (stream-table join path)
    j = engine.execute(
        "SELECT e.event_id, t.n FROM events e JOIN user_totals t USING (user_id)"
    )
    assert j.count() == ev.count()


def test_materialized_table_over_cap_uses_pushdown(spark):
    """A table above index_max_rows must NOT be collected into a driver-side
    dict: point lookups fall back to a pushed-down filter scan, the explicit
    index build raises a clear error, and an oversized sql_column_values
    result is refused rather than OOMing the driver."""
    import pytest as _pytest

    from velostream_spark.sql.engine import MaterializedTable

    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    mt = MaterializedTable("big", df, key_field="k", index_max_rows=10)
    assert mt.get_record(7) == {"k": 7, "v": 14}
    assert mt.get_record(1000) is None
    assert mt.contains_key(7) and not mt.contains_key(1000)
    assert mt._index is None  # no driver dict was materialized
    with _pytest.raises(ValueError, match="index_max_rows"):
        mt._ensure_index()
    # filtered scans stay available at any size; oversized collects refused
    assert mt.sql_filter("k < 5").count() == 5
    assert sorted(mt.sql_column_values("v", "k < 5")) == [0, 2, 4, 6, 8]
    with _pytest.raises(ValueError, match="matched more than"):
        mt.sql_column_values("v", "k >= 0")
    # under the cap the dict index is built and serves O(1) lookups
    small = MaterializedTable("small", df, key_field="k", index_max_rows=1000)
    assert small.get_record(3) == {"k": 3, "v": 6}
    assert small._index is not None


def test_insert_update_delete(spark, engine):
    engine.execute("CREATE TABLE kv AS SELECT 1 AS k, 'a' AS v")
    assert engine.execute("INSERT INTO kv (k, v) VALUES (2, 'b'), (3, 'c')") == 2
    assert engine.tables["kv"].count() == 3
    assert engine.execute("UPDATE kv SET v = 'z' WHERE k >= 2") == 2
    vals = {r["k"]: r["v"] for r in engine.tables["kv"].df.collect()}
    assert vals == {1: "a", 2: "z", 3: "z"}
    assert engine.execute("DELETE FROM kv WHERE k = 1") == 1
    assert engine.tables["kv"].count() == 2
    # SET of a brand-new column ADDS the field (update.rs:194-206 inserts
    # into the record's field map unconditionally); non-matching rows NULL
    assert engine.execute("UPDATE kv SET flag = k * 10 WHERE k = 2") == 1
    vals = {r["k"]: r["flag"] for r in engine.tables["kv"].df.collect()}
    assert vals == {2: 20, 3: None}


def test_show_statements(engine):
    engine.execute("CREATE TABLE st1 AS SELECT 1 AS a")
    streams = engine.execute("SHOW STREAMS")
    assert any(s["stream_name"] == "events" and s["type"] == "STREAM" for s in streams)
    tables = engine.execute("SHOW TABLES")
    assert any(t["table_name"] == "st1" for t in tables)
    cols = engine.execute("DESCRIBE st1")
    assert cols == [{"column_name": "a", "data_type": "int"}]


def test_header_functions(spark):
    from velostream_spark.functions import headers as H

    df = spark.createDataFrame(
        [([("k1", bytearray(b"v1")), ("k2", bytearray(b"v2"))],)],
        "headers: array<struct<key: string, value: binary>>",
    )
    row = df.select(
        H.header(F.col("headers"), "k1").alias("h"),
        H.has_header(F.col("headers"), "kx").alias("hx"),
        H.header_keys(F.col("headers")).alias("ks"),
        H.header(H.set_header(F.col("headers"), "k3", "v3"), "k3").alias("s"),
        H.header_keys(H.remove_header(F.col("headers"), "k1")).alias("r"),
    ).first()
    assert row["h"] == "v1"
    assert row["hx"] is False
    assert row["ks"] == ["k1", "k2"]
    assert row["s"] == "v3"
    assert row["r"] == ["k2"]


def test_streaming_csas_windowed_to_parquet(spark, tmp_path):
    """CREATE STREAM as a REAL streaming job (stream_job_server.rs deploy
    path): CSV file-stream source → watermarked tumbling window EMIT FINAL →
    parquet sink, then PAUSE/SHOW JOBS through SQL statements."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "m1.csv").write_text(
        "sensor,ts,temp\n"
        "a,2024-01-01 10:01:00,10.0\n"
        "a,2024-01-01 10:02:00,20.0\n"
        "b,2024-01-01 10:03:00,30.0\n"
        "a,2024-01-01 10:07:00,40.0\n"
        "a,2024-01-01 10:11:00,99.0\n"
    )
    out = str(tmp_path / "out")
    eng = SqlEngine(spark, time_col="ts")
    eng.execute_streaming(
        f"""
        -- @num_partitions: 2
        CREATE STREAM agg_out AS
        SELECT TUMBLE_START() AS window_start,
               sensor,
               COUNT(*) AS n,
               ROUND(SUM(temp), 2) AS total
        FROM readings
        GROUP BY sensor
        WINDOW TUMBLING(INTERVAL '5' MINUTE)
        EMIT FINAL
        WITH ('readings.type' = 'file_source',
              'readings.path' = '{src_dir}',
              'readings.format' = 'csv',
              'agg_out.type' = 'file_sink',
              'agg_out.path' = '{out}',
              'agg_out.format' = 'parquet');
        """
    )
    import datetime as _dt

    def _ms(s):  # TUMBLE_START() is INT64 epoch-millis (system-columns.md)
        return int(
            _dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=_dt.timezone.utc)
            .timestamp()
            * 1000
        )

    got = {
        (r["window_start"], r["sensor"]): (r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    # watermark = max ts (10:11) → the 10:00 and 10:05 windows closed;
    # the 10:10 window (row at 10:11) stays open and is withheld
    assert got[(_ms("2024-01-01 10:00:00"), "a")] == (2, 30.0)
    assert got[(_ms("2024-01-01 10:00:00"), "b")] == (1, 30.0)
    assert got[(_ms("2024-01-01 10:05:00"), "a")] == (1, 40.0)
    assert (_ms("2024-01-01 10:10:00"), "a") not in got
    jobs = {j["name"]: j for j in eng.execute("SHOW JOBS")}
    assert "agg_out" in jobs
    eng.execute("PAUSE JOB agg_out")
    assert eng.jobs.describe("agg_out")["state"] == "paused"


def test_datediff_three_arg_rewrite(spark, engine):
    """Reference DATEDIFF units are plural calendar-boundary diffs
    (functions.rs:1977-2007): years = year(end)-year(start), days =
    date-only diff, hours = truncated elapsed millis/3.6e6."""
    import pytest as _pytest

    row = engine.execute(
        "SELECT DATEDIFF('hours', ts - INTERVAL 2 HOUR, ts) AS two_h, "
        "DATEDIFF('days', ts - INTERVAL 36 HOUR, ts) AS cal_days, "
        "DATEDIFF('years', ts - INTERVAL 400 DAY, ts) AS yr, "
        "DATEDIFF('months', ts - INTERVAL 90 DAY, ts) AS mo "
        "FROM events LIMIT 1"
    ).first()
    assert row["two_h"] == 2
    # calendar-day diff of a 36h gap is 1 or 2 depending on wall time, never 1.5
    assert row["cal_days"] in (1, 2)
    assert row["yr"] in (1, 2)
    # calendar-month diff of a 90-day span is 2 or 3 depending on where the
    # end date falls in its month (data-dependent on the first events row)
    assert row["mo"] in (2, 3)
    # singular accepted as courtesy; unsupported unit is a clear error
    r2 = engine.execute(
        "SELECT DATEDIFF('hour', ts - INTERVAL 2 HOUR, ts) AS h FROM events LIMIT 1"
    ).first()
    assert r2["h"] == 2
    # sub-hour units: rejected by the reference engine but used by its own
    # examples/iot_monitoring.sql — accepted here as an extension
    r3 = engine.execute(
        "SELECT DATEDIFF('minutes', ts - INTERVAL 90 SECOND, ts) AS m "
        "FROM events LIMIT 1"
    ).first()
    assert r3["m"] == 1
    with _pytest.raises(ValueError, match="Unsupported DATEDIFF unit"):
        engine.execute("SELECT DATEDIFF('fortnights', ts, ts) AS m FROM events LIMIT 1")


def test_datediff_calendar_boundary_semantics(spark, engine):
    """Dec 31 23:00 → Jan 1 01:00 is years=1 by the reference's
    year(end)-year(start) rule even though only 2h elapsed."""
    df = spark.createDataFrame(
        [("2023-12-31 23:00:00", "2024-01-01 01:00:00")], "s string, e string"
    ).selectExpr("cast(s as timestamp) s", "cast(e as timestamp) e")
    eng = SqlEngine(spark)
    eng.register_stream("tt", df)
    row = eng.execute(
        "SELECT DATEDIFF('years', s, e) AS yr, DATEDIFF('days', s, e) AS d, "
        "DATEDIFF('hours', s, e) AS h, DATEDIFF('quarters', s, e) AS q FROM tt"
    ).first()
    assert row["yr"] == 1 and row["d"] == 1 and row["h"] == 2 and row["q"] == 1


def test_rewrite_functions_no_hang():
    """Round-1 ADVICE: EXTRACT(YEAR FROM ts) and 2-arg DATEDIFF made
    _rewrite_functions loop forever (no-op rewrite re-scanned from 0)."""
    sql, _, _, _ = translate_select(
        "SELECT EXTRACT(YEAR FROM ts) AS y, EXTRACT(MONTH FROM ts) AS m, "
        "DATEDIFF(d1, d2) AS dd, EXTRACT('EPOCH', ts) AS e FROM t"
    )
    assert "unix_timestamp(ts)" in sql  # EPOCH form still rewritten
    assert "EXTRACT(YEAR FROM ts)" in sql  # native form passes through
    assert "DATEDIFF(d1, d2)" in sql  # 2-arg passes through to Spark


def test_extract_native_form_executes(spark, engine):
    row = engine.execute(
        "SELECT EXTRACT(YEAR FROM ts) AS y, EXTRACT(HOUR FROM ts) AS h "
        "FROM events LIMIT 1"
    ).first()
    assert row["y"] >= 2020 and 0 <= row["h"] <= 23


def test_extract_subsecond_parts(spark, engine):
    """Reference functions.rs:1921-1923: MILLISECOND/MICROSECOND/NANOSECOND
    are sub-second components (0..999 / 0..999999), absent from Spark's
    native extract.  Both the FROM form and the string-part form rewrite."""
    row = engine.execute(
        "SELECT EXTRACT(MILLISECOND FROM TIMESTAMP '2024-03-05 01:02:03.456789') AS ms, "
        "EXTRACT('MICROSECOND', TIMESTAMP '2024-03-05 01:02:03.456789') AS us, "
        "EXTRACT(NANOSECOND FROM TIMESTAMP '2024-03-05 01:02:03.456789') AS ns"
    ).first()
    assert row["ms"] == 456
    assert row["us"] == 456789
    assert row["ns"] == 456789000
    # sub-second component is never negative, pre-epoch included
    row = engine.execute(
        "SELECT EXTRACT(MILLISECOND FROM TIMESTAMP '1969-12-31 23:59:59.250') AS ms"
    ).first()
    assert row["ms"] == 250


def test_over_fn_name_nested_parens(spark, engine):
    """Round-1 ADVICE: nested parens before OVER broke the fn-name probe, so
    LAG got an illegal explicit frame attached."""
    df = engine.execute(
        "SELECT event_id, LAG(CAST(value AS DOUBLE), 1) "
        "OVER (ROWS WINDOW BUFFER 5 ROWS PARTITION BY event_type ORDER BY event_id) "
        "AS prev FROM events LIMIT 5"
    )
    assert df.columns == ["event_id", "prev"]
    df.collect()  # must execute: a frame on LAG would fail analysis


def test_kafka_tombstones_shape(spark):
    from velostream_spark.sources.kafka import message_key, tombstones

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, region string")
    ts = tombstones(df, ["id", "region"]).collect()
    assert [r["key"] for r in ts] == ["1|a", "2|b"]
    assert all(r["value"] is None for r in ts)
    single = message_key(df, ["id"]).select("key").collect()
    assert [r["key"] for r in single] == ["1", "2"]


def test_multi_source_sql_app(spark, tmp_path):
    """Multi-source SQL application (reference job_multi_source_sink_test):
    two CSV sources joined by a CSAS, then a CTAS over the result — one
    app file, dependency order."""
    (tmp_path / "orders.csv").write_text(
        "order_id,cust_id,amount\n1,10,99.5\n2,20,15.0\n3,10,7.25\n"
    )
    (tmp_path / "custs.csv").write_text("cust_id,name\n10,acme\n20,globex\n")
    eng = SqlEngine(spark)
    results = eng.execute_app(
        f"""
        CREATE STREAM enriched AS
        SELECT o.order_id, o.amount, c.name
        FROM orders o JOIN custs c ON o.cust_id = c.cust_id
        WITH ('orders.type' = 'file_source', 'orders.path' = '{tmp_path}/orders.csv',
              'custs.type' = 'file_source', 'custs.path' = '{tmp_path}/custs.csv');

        CREATE TABLE by_name AS
        SELECT name PRIMARY KEY, ROUND(SUM(amount), 2) AS total
        FROM enriched GROUP BY name;
        """
    )
    assert results[0].count() == 3
    assert eng.tables["by_name"].get_record("acme")["total"] == 106.75
    assert eng.tables["by_name"].get_record("globex")["total"] == 15.0


def _ticks_csv(tmp_path) -> str:
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    rows = "\n".join(
        f"T{i:03d},{i % 3},{i},{round(0.5 * i + (i % 7), 2)}" for i in range(60)
    )
    (src_dir / "t.csv").write_text("trade_id,sym,seq,price\n" + rows + "\n")
    return (
        f"WITH ('ticks.type' = 'file_source', 'ticks.path' = '{src_dir}', "
        "'ticks.format' = 'csv')"
    )


def test_streaming_csas_rows_window(spark, tmp_path):
    """SQL ROWS WINDOW through the STREAMING path: the dialect captures the
    OVER-spec and the engine routes it to the applyInPandasWithState op.
    The statement is honoured as written — WHERE filters rows before the
    buffer, and the SELECT list (a non-key column, a computed column, the
    window columns) comes out in order with the names, types and values
    the batch execution of the same SQL (frame rewrite path) gives."""
    with_clause = _ticks_csv(tmp_path)
    body = """
        SELECT trade_id, sym, seq, price * 2 AS px2,
               AVG(price) OVER (ROWS WINDOW BUFFER 5 ROWS
                                PARTITION BY sym ORDER BY seq) AS avg_p,
               LAG(price) OVER (ROWS WINDOW BUFFER 5 ROWS
                                PARTITION BY sym ORDER BY seq) AS prev_p
        FROM ticks
        WHERE price > 10
    """
    SqlEngine(spark).execute_streaming(f"CREATE STREAM ma AS {body} {with_clause}")
    got = spark.table("ma")
    batch = SqlEngine(spark).execute(f"{body} {with_clause}")
    assert got.columns == ["trade_id", "sym", "seq", "px2", "avg_p", "prev_p"]
    assert got.dtypes == batch.dtypes

    def rows(df):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )

    want = rows(batch)
    assert len(want) == 45  # 15 of the 60 ticks fail the WHERE
    assert rows(got) == want


@pytest.mark.parametrize(
    "tail,clause",
    [
        ("JOIN ticks t2 ON ticks.seq = t2.seq", "JOIN"),
        ("GROUP BY trade_id, sym, seq, price", "GROUP BY"),
        ("WHERE price > 10 ORDER BY seq", "ORDER BY"),
        ("LIMIT 5", "LIMIT"),
    ],
)
def test_streaming_csas_rows_window_rejects_unhonoured_clause(
    spark, tmp_path, tail, clause
):
    """A clause the per-record ROWS WINDOW route cannot honour raises a
    ValueError naming it, instead of being dropped silently."""
    with_clause = _ticks_csv(tmp_path)
    sql = f"""
        CREATE STREAM mb AS
        SELECT sym, seq,
               AVG(price) OVER (ROWS WINDOW BUFFER 5 ROWS
                                PARTITION BY sym ORDER BY seq) AS avg_p
        FROM ticks {tail} {with_clause}
    """
    with pytest.raises(ValueError, match=clause):
        SqlEngine(spark).execute_streaming(sql)


def test_avro_file_source_with_registry_sql(spark, tmp_path):
    """Pure-SQL pipeline over an Avro-binary value file: the WITH clause
    names the schema registry subject, the engine decodes through the
    pure-Python codec (schema evolution included — reader is the latest
    registered version), and the query aggregates decoded columns."""
    import json as _json

    from velostream_spark.sources.avro_binary import AvroBinaryCodec
    from velostream_spark.sources.schema_registry import FileSchemaRegistry

    v1 = _json.dumps(
        {
            "type": "record",
            "name": "Reading",
            "fields": [
                {"name": "station", "type": "string"},
                {"name": "temperature", "type": "double"},
            ],
        }
    )
    v2 = _json.dumps(
        {
            "type": "record",
            "name": "Reading",
            "fields": [
                {"name": "station", "type": "string"},
                {"name": "temperature", "type": "double"},
                {"name": "unit", "type": "string", "default": "C"},
            ],
        }
    )
    reg_path = tmp_path / "registry"
    reg = FileSchemaRegistry(reg_path)
    reg.register("readings-value", v1)
    reg.register("readings-value", v2)

    codec = AvroBinaryCodec(v1)  # data written by the OLD producer
    rows = [("oslo", 10.5), ("oslo", -3.0), ("paris", 21.0)]
    import pandas as pd

    src = tmp_path / "readings.parquet"
    pd.DataFrame(
        {"value": [codec.encode({"station": s, "temperature": t}) for s, t in rows]}
    ).to_parquet(src, index=False)

    eng = SqlEngine(spark)
    df = eng.execute(
        f"""
        CREATE STREAM stats AS
        SELECT station, unit, ROUND(AVG(temperature), 4) AS avg_temp
        FROM readings
        GROUP BY station, unit
        WITH (
            'readings.type' = 'file_source',
            'readings.path' = '{src}',
            'readings.format' = 'avro',
            'readings.avro.schema.registry.path' = '{reg_path}',
            'readings.avro.schema.subject' = 'readings-value',
            'readings.avro.schema.version' = '1'
        );
        """
    )
    got = {r["station"]: r for r in df.collect()}
    assert got["oslo"]["avg_temp"] == 3.75 and got["paris"]["avg_temp"] == 21.0
    # evolution: the defaulted v2 field materialized through SQL
    assert got["oslo"]["unit"] == "C"


def test_protobuf_file_source_sql(spark, tmp_path):
    """Pure-SQL pipeline over a Protobuf-binary value file: WITH clause
    names the .proto file and root message; the engine decodes via the
    wire-format codec and the query aggregates decoded columns."""
    import pandas as pd

    from velostream_spark.sources.proto_binary import ProtobufCodec

    proto = """
    syntax = "proto3";
    message Reading { string station = 1; double temperature = 2; }
    """
    proto_path = tmp_path / "reading.proto"
    proto_path.write_text(proto)
    codec = ProtobufCodec(proto, "Reading")
    rows = [("oslo", 10.5), ("oslo", -3.0), ("paris", 21.0)]
    src = tmp_path / "readings.parquet"
    pd.DataFrame(
        {"value": [codec.encode({"station": s, "temperature": t}) for s, t in rows]}
    ).to_parquet(src, index=False)

    eng = SqlEngine(spark)
    df = eng.execute(
        f"""
        CREATE STREAM stats AS
        SELECT station, ROUND(AVG(temperature), 4) AS avg_temp
        FROM readings
        GROUP BY station
        WITH (
            'readings.type' = 'file_source',
            'readings.path' = '{src}',
            'readings.format' = 'protobuf',
            'readings.proto.schema.path' = '{proto_path}',
            'readings.proto.message' = 'Reading'
        );
        """
    )
    got = {r["station"]: r["avg_temp"] for r in df.collect()}
    assert got == {"oslo": 3.75, "paris": 21.0}


def test_streaming_csas_avro_source(spark, tmp_path):
    """Streaming CSAS over an Avro-binary value stream: the engine streams
    the raw binary files, decodes in-stream through the schema registry
    (mapInPandas on a streaming plan), windows on a decoded timestamp
    field, and writes the sink — the no-jar analog of Kafka + from_avro
    end to end."""
    import datetime as _dt
    import json as _json

    import pandas as pd

    from velostream_spark.sources.avro_binary import AvroBinaryCodec
    from velostream_spark.sources.schema_registry import FileSchemaRegistry

    schema = _json.dumps(
        {
            "type": "record",
            "name": "Reading",
            "fields": [
                {"name": "sensor", "type": "string"},
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                {"name": "temp", "type": "double"},
            ],
        }
    )
    reg_path = tmp_path / "registry"
    FileSchemaRegistry(reg_path).register("readings-value", schema)
    codec = AvroBinaryCodec(schema)
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    T = lambda m: _dt.datetime(2024, 1, 1, 10, m)
    rows = [("a", T(1), 10.0), ("a", T(2), 20.0), ("b", T(3), 30.0), ("a", T(11), 99.0)]
    pd.DataFrame(
        {"value": [codec.encode({"sensor": s, "ts": t, "temp": v}) for s, t, v in rows]}
    ).to_parquet(src_dir / "chunk0.parquet", index=False)

    out = str(tmp_path / "out")
    eng = SqlEngine(spark, time_col="ts")
    eng.execute_streaming(
        f"""
        CREATE STREAM sums AS
        SELECT sensor, ROUND(SUM(temp), 2) AS total
        FROM readings
        GROUP BY sensor
        WINDOW TUMBLING(INTERVAL '5' MINUTE)
        EMIT FINAL
        WITH ('readings.type' = 'file_source',
              'readings.path' = '{src_dir}',
              'readings.format' = 'avro',
              'readings.avro.schema.registry.path' = '{reg_path}',
              'readings.avro.schema.subject' = 'readings-value',
              'sums.type' = 'file_sink',
              'sums.path' = '{out}',
              'sums.format' = 'parquet');
        """
    )
    got = {r["sensor"]: r["total"] for r in spark.read.parquet(out).collect()}
    # watermark = max decoded ts (10:11): the 10:00 window closed; the
    # 10:10 window (the 99.0 row) stays open and is withheld
    assert got == {"a": 30.0, "b": 30.0}


def test_join_within_rewrite_and_execution(spark):
    """JOIN ... ON cond WITHIN INTERVAL 'n' UNIT (parser/select.rs:1141,
    ast.rs JoinWindow): rewritten to symmetric time bounds and executable;
    GRACE PERIOD parses and does not alter the match predicate."""
    from tests.conftest import SF_SMOKE
    from velostream_spark.session import load_tables
    from velostream_spark.sql.dialect import translate_select

    sql, _, _, _ = translate_select(
        "SELECT a.event_id AS ida, b.event_id AS idb "
        "FROM events a JOIN events b "
        "ON a.user_id = b.user_id AND a.event_id < b.event_id "
        "WITHIN INTERVAL '10' MINUTE",
        time_col="ts",
    )
    assert "WITHIN" not in sql.upper()
    assert "b.ts >= a.ts - INTERVAL '10' MINUTE" in sql
    assert "b.ts <= a.ts + INTERVAL '10' MINUTE" in sql

    load_tables(spark, SF_SMOKE, register_views=True)
    got = spark.sql(sql)
    want = spark.sql(
        "SELECT a.event_id AS ida, b.event_id AS idb "
        "FROM events a JOIN events b "
        "ON a.user_id = b.user_id AND a.event_id < b.event_id "
        "AND b.ts BETWEEN a.ts - INTERVAL '10' MINUTE "
        "AND a.ts + INTERVAL '10' MINUTE"
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # GRACE PERIOD variant parses to the same predicate
    sql2, _, _, _ = translate_select(
        "SELECT a.event_id FROM events a JOIN events b ON a.user_id = b.user_id "
        "WITHIN INTERVAL '5' MINUTE GRACE PERIOD INTERVAL '1' MINUTE",
        time_col="ts",
    )
    assert "GRACE" not in sql2.upper() and "WITHIN" not in sql2.upper()
    assert "INTERVAL '5' MINUTE" in sql2


def test_deploy_job_versioned_and_rollback(spark, tmp_path):
    """DEPLOY JOB name VERSION 'v' STRATEGY ... AS SELECT (ast.rs:340-365)
    + ROLLBACK JOB ... TO VERSION: versioned deployments with per-version
    checkpoints, blue-green switch order, SHOW VERSIONS history, rollback
    reactivating the prior build."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "r.csv").write_text("station,temp\noslo,10.0\nparis,20.0\n")
    src = src_dir
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    eng = SqlEngine(spark)

    eng.execute_streaming(
        f"""
        DEPLOY JOB stats VERSION '1.0.0' AS
        SELECT station, temp FROM readings
        WITH ('readings.type' = 'file_source', 'readings.path' = '{src}',
              'readings.format' = 'csv',
              'stats.type' = 'file_sink', 'stats.path' = '{out1}',
              'stats.format' = 'parquet');
        """
    )
    assert spark.read.parquet(out1).count() == 2

    eng.execute_streaming(
        f"""
        DEPLOY JOB stats VERSION '1.1.0' STRATEGY BLUE_GREEN AS
        SELECT station, ROUND(temp * 2, 1) AS temp2 FROM readings
        WITH ('readings.type' = 'file_source', 'readings.path' = '{src}',
              'readings.format' = 'csv',
              'stats.type' = 'file_sink', 'stats.path' = '{out2}',
              'stats.format' = 'parquet');
        """
    )
    got = {r["station"]: r["temp2"] for r in spark.read.parquet(out2).collect()}
    assert got == {"oslo": 20.0, "paris": 40.0}

    versions = eng.execute("SHOW JOB VERSIONS stats")
    assert [v["version"] for v in versions] == ["1.0.0", "1.1.0"]
    assert [v["current"] for v in versions] == [False, True]
    assert versions[1]["strategy"] == "blue_green"

    job = eng.execute("ROLLBACK JOB stats TO VERSION '1.0.0'")
    eng.jobs.wait("stats")
    assert eng.jobs.current_version["stats"] == "1.0.0"
    # the reactivated v1 build ran again from its own checkpoint (no new
    # input -> no new rows, but the job is the v1 plan)
    versions = eng.execute("SHOW VERSIONS stats")
    assert [v["current"] for v in versions] == [True, False]
    assert job.state in ("running", "stopped")


def test_show_resource_surface(spark, tmp_path):
    """The full SHOW resource surface (ast.rs:471-495 ShowResourceType):
    SCHEMA, PARTITIONS, JOB STATUS, JOB METRICS, PROPERTIES, and the
    broker-gated TOPICS error."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "r.csv").write_text("station,temp\noslo,10.0\n")
    out = str(tmp_path / "o")
    eng = SqlEngine(spark)
    eng.execute_streaming(
        f"""
        CREATE STREAM s1 AS SELECT station, temp FROM readings
        WITH ('readings.type' = 'file_source', 'readings.path' = '{src_dir}',
              'readings.format' = 'csv',
              's1.type' = 'file_sink', 's1.path' = '{out}',
              's1.format' = 'parquet');
        """
    )
    schema = eng.execute("SHOW SCHEMA s1")
    assert {c["column_name"] for c in schema} == {"station", "temp"}
    parts = eng.execute("SHOW PARTITIONS FOR s1")
    assert parts[0]["num_partitions"] >= 1
    status = eng.execute("SHOW JOB STATUS s1")
    assert status[0]["name"] == "s1" and "checkpoint" in status[0]
    metrics = eng.execute("SHOW JOB METRICS s1")
    assert metrics[0]["job"] == "s1" and metrics[0]["input_rows"] is not None
    props = eng.execute("SHOW PROPERTIES JOB s1")
    assert props[0]["sink"] == "parquet"
    # reference spelling: SHOW PROPERTIES STREAM <name> (commands.rs:264)
    # → property/value rows incl. the wired source cfg (show.rs:294-331)
    rows = eng.execute("SHOW PROPERTIES STREAM readings")
    kv = {r["property"]: r["value"] for r in rows}
    assert kv["type"] == "STREAM"
    assert kv["format"] == "csv"
    # SHOW TOPICS lists topics of REGISTERED kafka streams (show.rs:155-177
    # iterates stream_handles — no broker I/O in the reference either)
    assert eng.execute("SHOW TOPICS") == []
    eng2 = SqlEngine(spark)
    try:
        eng2.execute(
            "CREATE STREAM k1 AS SELECT * FROM kafka://broker:9092/orders-topic"
        )
    except Exception:
        pass  # broker I/O is env-exempt; cfg capture happens before the read
    topics = eng2.execute("SHOW TOPICS")
    assert topics == [{"topic_name": "orders-topic", "registered": True}]


def test_changelog_rewrite_peels_order_by_limit(spark):
    """EMIT CHANGES GROUP BY with trailing ORDER BY/LIMIT: the sort/limit
    applies to the emitted changelog, not the window partitioning (review
    finding: they used to leak into the PARTITION BY list → ParseException)."""
    from velostream_spark.sql.dialect import changelog_rewrite

    sql = changelog_rewrite(
        "SELECT k, COUNT(*) AS c FROM t GROUP BY k ORDER BY c DESC LIMIT 5"
    )
    assert "PARTITION BY k ORDER BY __arrival" in sql
    assert sql.rstrip().endswith("ORDER BY c DESC LIMIT 5")
    spark.createDataFrame(
        [("a",), ("b",), ("a",)], "k string"
    ).createOrReplaceTempView("t")
    rows = spark.sql(sql).collect()  # must parse AND run
    assert len(rows) == 3

    # HAVING + ORDER BY together
    sql2 = changelog_rewrite(
        "SELECT k, SUM(v) AS s FROM t2 GROUP BY k HAVING SUM(v) > 1 ORDER BY s"
    )
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "k string, v int"
    ).createOrReplaceTempView("t2")
    got = [tuple(r) for r in spark.sql(sql2).collect()]
    assert got == [("a", 3)]


def test_window_system_columns_not_rewritten_in_string_literals(spark):
    """_window_start inside a quoted literal must survive the system-column
    rewrite (review finding: blanket re.sub corrupted literals)."""
    from velostream_spark.sql.dialect import parse_statement

    st = parse_statement(
        "CREATE STREAM s AS SELECT '_window_start' AS label, COUNT(*) AS n, "
        "_window_start AS ws FROM ev GROUP BY 1 WINDOW TUMBLING(1m)"
    )
    assert "'_window_start'" in st.select_sql  # literal intact
    # identifier rewritten to the INT64-millis form
    assert "unix_millis(window.start) AS ws" in st.select_sql


def test_attach_over_skips_explicit_over_and_subqueries():
    """Regression (r4 advice): _attach_over must not double-window an
    aggregate that already has an OVER clause (invalid SQL) nor rewrite
    aggregates inside scalar subqueries in the select list (silently wrong
    semantics), and string literals stay opaque."""
    from velostream_spark.sql.dialect import _attach_over

    s, n = _attach_over("SUM(x) OVER (PARTITION BY k ORDER BY t) AS run", "__w")
    assert s == "SUM(x) OVER (PARTITION BY k ORDER BY t) AS run" and n == 0

    s, n = _attach_over("amount - (SELECT AVG(amount) FROM t) AS diff", "__w")
    assert s == "amount - (SELECT AVG(amount) FROM t) AS diff" and n == 0

    s, n = _attach_over("SUM(amount) AS total, 'SUM(x)' AS lit", "__w")
    assert s == "SUM(amount) OVER __w AS total, 'SUM(x)' AS lit" and n == 1


def test_rows_window_without_order_by_uses_arrival_order(spark):
    """PARSER_GRAMMAR.md: PARTITION BY / ORDER BY are OPTIONAL inside
    ROWS WINDOW. With no ORDER BY the reference buffers in arrival order;
    the dialect injects monotonically_increasing_id() so offset/ranking
    functions and the buffer frame survive (a bare LAG(x) OVER () is a
    Spark analysis error)."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 6)], "id int, price double"
    )
    eng.register_stream("grammar_t", df)
    got = eng.execute(
        "SELECT id, LAG(price) OVER (ROWS WINDOW BUFFER 100 ROWS) AS prev "
        "FROM grammar_t ORDER BY id"
    ).collect()
    assert [(r["id"], r["prev"]) for r in got] == [
        (1, None), (2, 10.0), (3, 20.0), (4, 30.0), (5, 40.0),
    ]
    got = eng.execute(
        "SELECT id, AVG(price) OVER (ROWS WINDOW BUFFER 3 ROWS) AS a "
        "FROM grammar_t ORDER BY id"
    ).collect()
    assert [round(r["a"], 1) for r in got] == [10.0, 15.0, 20.0, 30.0, 40.0]
    # EMIT CHANGES inside OVER: per-record running count over the buffer
    got = eng.execute(
        "SELECT COUNT(*) OVER (ROWS WINDOW BUFFER 1000 ROWS "
        "PARTITION BY id % 2 EMIT CHANGES) AS c FROM grammar_t"
    ).collect()
    assert sorted(r["c"] for r in got) == [1, 1, 2, 2, 3]


def test_group_by_implicit_message_key():
    """docs/sql/KEY_CONFIGURATION.md:69-117: with no inline PRIMARY KEY,
    GROUP BY columns become the message key (priority: PRIMARY KEY wins);
    expressions / positional items don't qualify."""
    from velostream_spark.sql.dialect import parse_statement

    st = parse_statement(
        "CREATE TABLE t AS SELECT symbol, COUNT(*) AS n FROM s GROUP BY symbol"
    )
    assert st.key_fields == ["symbol"]
    st = parse_statement(
        "CREATE TABLE t AS SELECT a.region, sym, SUM(x) AS s FROM s a "
        "GROUP BY a.region, sym HAVING SUM(x) > 0"
    )
    assert st.key_fields == ["region", "sym"]
    # PRIMARY KEY beats GROUP BY
    st = parse_statement(
        "CREATE TABLE t AS SELECT symbol PRIMARY KEY, venue, COUNT(*) AS n "
        "FROM s GROUP BY symbol, venue"
    )
    assert st.key_fields == ["symbol"]
    # expression items don't produce keys
    st = parse_statement(
        "CREATE TABLE t AS SELECT COUNT(*) AS n FROM s GROUP BY x % 2"
    )
    assert st.key_fields == []


def test_quantified_comparisons_rewrite(spark):
    """x op ANY/SOME/ALL (subquery) — reference first-class syntax Spark's
    parser rejects; the dialect rewrites to correlated EXISTS forms
    (semantics oracle-checked by the dialect_quantified_comparisons
    catalog entry against DuckDB's native quantifiers)."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    eng.register_stream(
        "qa", spark.createDataFrame(
            [(1, 5.0), (2, 50.0), (3, 15.0)], "id int, x double"
        )
    )
    eng.register_stream(
        "qb", spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, y double")
    )
    def ids(sql):
        return [r["id"] for r in eng.execute(sql).collect()]
    assert ids("SELECT id FROM qa WHERE x > ANY (SELECT y FROM qb) ORDER BY id") == [2, 3]
    assert ids("SELECT id FROM qa WHERE x > SOME (SELECT y FROM qb) ORDER BY id") == [2, 3]
    assert ids("SELECT id FROM qa WHERE x > ALL (SELECT y FROM qb) ORDER BY id") == [2]
    assert ids("SELECT id FROM qa WHERE x <= ALL (SELECT y FROM qb) ORDER BY id") == [1]
    assert ids("SELECT id FROM qa WHERE ABS(x) > ANY (SELECT y FROM qb) ORDER BY id") == [2, 3]
    assert ids("SELECT id FROM qa WHERE (x + 1) > ALL (SELECT y FROM qb) ORDER BY id") == [2]


def test_implicit_key_skips_subquery_group_by():
    """ADVICE r6: the implicit-key scan must run at paren depth 0 only —
    a grouped subquery donates no key, and an outer GROUP BY following a
    grouped derived table is still found."""
    from velostream_spark.sql.dialect import parse_statement

    # inner GROUP BY only → NO implicit key
    st = parse_statement(
        "CREATE TABLE t AS SELECT id, x FROM s WHERE EXISTS "
        "(SELECT 1 FROM u GROUP BY c HAVING COUNT(*) > 2)"
    )
    assert st.key_fields == []
    # grouped derived table, outer GROUP BY after it → outer key found
    st = parse_statement(
        "CREATE TABLE t AS SELECT region, SUM(n) AS total FROM "
        "(SELECT region, sym, COUNT(*) AS n FROM s GROUP BY region, sym) g "
        "GROUP BY region"
    )
    assert st.key_fields == ["region"]


def test_compound_implicit_key_indexes_composite(spark):
    """ADVICE r6: a CTAS with compound GROUP BY must index on the
    pipe-joined composite (message_key wire format) — duplicate
    first-column values must NOT collapse."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    eng.register_stream(
        "ck_src",
        spark.createDataFrame(
            [("eu", "A", 1.0), ("eu", "B", 2.0), ("us", "A", 3.0)],
            "region string, sym string, x double",
        ),
    )
    eng.execute(
        "CREATE TABLE ck_t AS SELECT region, sym, SUM(x) AS s "
        "FROM ck_src GROUP BY region, sym"
    )
    mt = eng.tables["ck_t"]
    assert mt.key_fields == ["region", "sym"]
    assert mt.count() == 3  # no first-column collapse
    assert mt.get_record("eu|A")["s"] == 1.0
    assert mt.get_record("eu|B")["s"] == 2.0
    assert mt.contains_key("us|A") and not mt.contains_key("us|B")
    # oversized path uses the same composite expression
    small = eng.tables["ck_t"]
    small.index_max_rows = 1
    small._oversized = None
    assert small.get_record("eu|B")["s"] == 2.0


def test_regexp_replace_user_caret_group_pattern(spark):
    """ADVICE r6: a user pattern literally beginning ^( must not be
    mistaken for the rewrite's own emitted form — 4-arg 'g' calls get
    flag processing, and first-match 3-arg calls still anchor."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    eng.register_stream(
        "rr_t", spark.createDataFrame([("foofoo bar",)], "s string")
    )
    got = eng.execute(
        "SELECT REGEXP_REPLACE(s, '^(foo)', 'X', 'g') AS r FROM rr_t"
    ).collect()
    assert got[0]["r"] == "Xfoo bar"  # ^ anchors once; 'g' not a position int
    got = eng.execute(
        "SELECT REGEXP_REPLACE(s, '(foo)', 'X') AS r FROM rr_t"
    ).collect()
    assert got[0]["r"] == "Xfoo bar"  # first-match default


def test_regexp_replace_pattern_backreference_rejected():
    """ADVICE r6: pattern-side \\N backreferences would be silently
    renumbered by the injected head group — and the reference's Rust
    regex engine rejects backreferences anyway. Loud error, not silence."""
    import pytest

    from velostream_spark.sql.dialect import translate_select

    with pytest.raises(ValueError, match="backreference"):
        translate_select("SELECT REGEXP_REPLACE(s, '(a)\\1', 'x') FROM t")


def test_quantified_compound_lhs_rejected():
    """ADVICE r6: an unparenthesized compound lhs (a || b = ANY (S))
    would capture only the last token and silently filter wrong rows —
    reject loudly, parenthesized forms still work."""
    import pytest

    from velostream_spark.sql.dialect import translate_select

    for bad in (
        "SELECT * FROM t WHERE x + 1 > ALL (SELECT y FROM u)",
        "SELECT * FROM t WHERE a || b = ANY (SELECT y FROM u)",
    ):
        with pytest.raises(ValueError, match="parenthesize"):
            translate_select(bad)
    # parenthesized compound lhs is fine (covered end-to-end above)
    translate_select("SELECT * FROM t WHERE (x + 1) > ALL (SELECT y FROM u)")


def test_implicit_key_rejects_expression_items_after_blanking():
    """Regression guard for the depth-0 scan: expression GROUP BY items
    must still be rejected — the clause span comes from the blanked text
    but items are read from the ORIGINAL, so UPPER(name) is not truncated
    into a bogus 'UPPER' key."""
    from velostream_spark.sql.dialect import _implicit_group_by_keys

    assert _implicit_group_by_keys("SELECT 1 FROM s GROUP BY UPPER(name)") == []
    assert _implicit_group_by_keys(
        "SELECT 1 FROM s GROUP BY region, UPPER(name)"
    ) == ["region"]


def test_show_like_pattern_filter(spark):
    """SHOW STREAMS/TABLES/TOPICS/FUNCTIONS accept an optional filter —
    bare 'pat%' or LIKE 'pat%' (commands.rs:312-328) with the reference's
    %-wildcard semantics (show.rs:406-431: prefix/suffix/substring/exact)."""
    eng = SqlEngine(spark)
    for n in ("user_events", "user_clicks", "orders"):
        eng.register_stream(n, spark.createDataFrame([(1,)], "x int"))
    names = lambda rows: [r["stream_name"] for r in rows]
    assert names(eng.execute("SHOW STREAMS LIKE 'user%'")) == [
        "user_clicks", "user_events",
    ]
    assert names(eng.execute("SHOW STREAMS '%events'")) == ["user_events"]
    assert names(eng.execute("SHOW STREAMS '%er%'")) == [
        "orders", "user_clicks", "user_events",
    ]
    assert names(eng.execute("SHOW STREAMS 'orders'")) == ["orders"]
    assert names(eng.execute("SHOW STREAMS 'zzz'")) == []
    fns = eng.execute("SHOW FUNCTIONS LIKE 'regexp%'")
    assert fns and all(
        r["function_name"].startswith("regexp") for r in fns
    )


def test_parameterized_query_substitution(spark):
    """$N placeholder substitution with injection-safe quoting (reference
    SelectProcessor.build_parameterized_query, select.rs:76-230; its
    parameterized_query_test.rs assertions mirrored here)."""
    import datetime as dt

    from velostream_spark.sql.engine import build_parameterized_query

    out = build_parameterized_query(
        "SELECT * FROM users WHERE id = $0 AND name = $1 AND score > $2",
        [123, "John'; DROP TABLE users; --", 85.5],
    )
    assert out.startswith("SELECT * FROM users WHERE id = 123 AND name = '")
    assert "'John''; DROP TABLE users; --'" in out  # injection safely quoted
    assert "85.5" in out
    # $1 must not corrupt $12 (single-pass scan)
    out = build_parameterized_query("SELECT $1, $12", {1: "a", 12: "b"})
    assert out == "SELECT 'a', 'b'"
    # unknown index stays literal; NULL / bool / temporal renderings
    assert build_parameterized_query("SELECT $7", []) == "SELECT $7"
    assert build_parameterized_query("SELECT $0", [None]) == "SELECT NULL"
    assert build_parameterized_query("SELECT $0", [True]) == "SELECT true"
    assert build_parameterized_query(
        "SELECT $0", [dt.date(2024, 3, 15)]
    ) == "SELECT '2024-03-15'"
    # control chars stripped, NUL removed (select.rs:199-202)
    out = build_parameterized_query("SELECT $0", ["a\0b\x01c\td"])
    assert out == "SELECT 'abc\td'"


def test_parameterized_query_executes(spark):
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    eng.register_stream(
        "pq_users",
        spark.createDataFrame(
            [(1, "ann", 90.0), (2, "bo'b", 70.0)], "id int, name string, score double"
        ),
    )
    rows = eng.execute_parameterized(
        "SELECT id FROM pq_users WHERE name = $0 AND score > $1", ["bo'b", 50.0]
    ).collect()
    assert [r["id"] for r in rows] == [2]


def test_start_job_as_query(spark, tmp_path):
    """START JOB name AS <query> [WITH props] — the reference's DEFINING
    form (parser commands.rs:332-360): registers a named continuous job
    from the inner query and starts it. STOP JOB name FORCE
    (commands.rs:373-378) records the force flag (the reference's
    processor echoes it as metadata, job.rs:103). QUERY is the
    backward-compat alias for JOB (tokenizer mod.rs:363)."""
    from velostream_spark.sql.engine import SqlEngine

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "r.csv").write_text("station,temp\noslo,10.0\nparis,20.0\n")
    out = str(tmp_path / "o")
    eng = SqlEngine(spark)
    job = eng.execute(
        f"""
        START JOB hotspots AS
        SELECT station, temp FROM readings WHERE temp > 15.0
        WITH ('readings.type' = 'file_source', 'readings.path' = '{src_dir}',
              'readings.format' = 'csv',
              'hotspots.type' = 'file_sink', 'hotspots.path' = '{out}',
              'hotspots.format' = 'parquet');
        """
    )
    eng.jobs.wait("hotspots")
    rows = spark.read.parquet(out).collect()
    assert [(r["station"], r["temp"]) for r in rows] == [("paris", 20.0)]

    stopped = eng.execute("STOP JOB hotspots FORCE")
    assert stopped.state == "stopped" and stopped.stop_forced is True
    # plain stop on a re-started job leaves the flag unset
    eng.execute("START JOB hotspots")
    stopped = eng.execute("STOP QUERY hotspots")
    assert stopped.state == "stopped" and stopped.stop_forced is False


def test_list_and_queries_aliases(spark, tmp_path):
    """LIST is a full SHOW alias (parser common.rs:392) and QUERIES/QUERY
    alias JOBS/JOB (tokenizer mod.rs:354,363): LIST STREAMS, LIST TABLES,
    SHOW QUERIES, and SHOW QUERY STATUS all execute."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    eng.execute("CREATE STREAM ls1 AS SELECT 1 AS one")
    names = {r["stream_name"] for r in eng.execute("LIST STREAMS")}
    assert "ls1" in names
    assert {r["stream_name"] for r in eng.execute("LIST STREAMS 'ls%'")} == {"ls1"}
    assert eng.execute("LIST TABLES") == eng.execute("SHOW TABLES")
    assert eng.execute("SHOW QUERIES") == eng.execute("SHOW JOBS")


def test_partition_annotations(spark):
    """Partitioning annotations (annotations.rs:6-14; strategy enum
    ast.rs:101-117): @partition_count → exchange partition count;
    always_hash → hash exchange on the key columns; round_robin →
    RoundRobinPartitioning; @sticky_partition_id → single-partition
    placement; hyphenated spellings (@partition-count,
    @sticky-partition-id — the header's own examples) normalize to the
    underscore keys."""
    from velostream_spark.sql.dialect import Statement, strip_comments
    from velostream_spark.sql.engine import SqlEngine

    _, ann = strip_comments(
        "-- @partition-count: 4\n-- @sticky-partition-id: 0\nSELECT 1"
    )
    assert ann == {"partition_count": "4", "sticky_partition_id": "0"}

    eng = SqlEngine(spark)
    df = spark.range(100).withColumnRenamed("id", "k")

    st = Statement(kind="create_stream", annotations={"partition_count": "4"})
    assert eng._apply_partition_annotations(df, st).rdd.getNumPartitions() == 4

    st = Statement(
        kind="create_stream",
        annotations={"partitioning_strategy": "round_robin", "partition_count": "3"},
    )
    assert eng._apply_partition_annotations(df, st).rdd.getNumPartitions() == 3

    # always_hash on the stream key: co-locates equal keys (the
    # reference's "consistent hashing on GROUP BY columns")
    st = Statement(
        kind="create_stream",
        annotations={"partitioning_strategy": "always_hash", "partition_count": "2"},
        key_fields=["k"],
    )
    hashed = eng._apply_partition_annotations(df.withColumn("k", df.k % 5), st)
    assert hashed.rdd.getNumPartitions() == 2
    per_part = hashed.rdd.mapPartitions(
        lambda it: [len({r["k"] for r in it})]
    ).collect()
    assert sum(per_part) == 5  # each key value lives in exactly one partition

    st = Statement(
        kind="create_stream",
        annotations={
            "partitioning_strategy": "sticky_partition",
            "sticky_partition_id": "0",
        },
    )
    assert eng._apply_partition_annotations(df, st).rdd.getNumPartitions() == 1

    # smart / fan_in / bare sticky: no exchange inserted
    for strat in ("smart_repartition", "fan_in", "sticky_partition"):
        st = Statement(
            kind="create_stream", annotations={"partitioning_strategy": strat}
        )
        assert (
            eng._apply_partition_annotations(df, st).rdd.getNumPartitions()
            == df.rdd.getNumPartitions()
        )


def test_event_time_millis_comparison(spark):
    """The reference compares temporal values against Integers as EPOCH
    MILLIS (evaluator.rs compare_values "Temporal vs Integer(epoch-millis)"
    arms); the event-time guide's own predicates are written that way.
    Spark refuses timestamp-vs-bigint comparison (DATATYPE_MISMATCH), so
    the dialect promotes integer literals compared to _event_time with
    timestamp_millis()."""
    import datetime as _dt

    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)  # default time_col = _event_time
    df = spark.createDataFrame(
        [
            (1, _dt.datetime(2023, 10, 14, 15, 10, 40)),
            (2, _dt.datetime(2023, 10, 14, 15, 10, 50)),
        ],
        "id int, _event_time timestamp",
    )
    eng.register_stream("ev_ms", df)
    cutoff = int(
        _dt.datetime(2023, 10, 14, 15, 10, 45, tzinfo=_dt.timezone.utc).timestamp()
        * 1000
    )
    got = eng.execute(
        f"SELECT id FROM ev_ms WHERE _event_time > {cutoff}"
    ).collect()
    assert [r["id"] for r in got] == [2]
    got = eng.execute(
        f"SELECT id FROM ev_ms WHERE {cutoff} >= _event_time"
    ).collect()
    assert [r["id"] for r in got] == [1]
    got = eng.execute(
        f"SELECT id FROM ev_ms WHERE _event_time BETWEEN {cutoff - 10_000} "
        f"AND {cutoff}"
    ).collect()
    assert [r["id"] for r in got] == [1]
    # small integers (not epoch-scale) and strings are left untouched
    from velostream_spark.sql.dialect import translate_select

    s, _, _, _ = translate_select("SELECT * FROM t WHERE x > 100")
    assert "timestamp_millis" not in s
    s, _, _, _ = translate_select(
        "SELECT * FROM t WHERE note = '_event_time > 1697296245000'"
    )
    assert "timestamp_millis" not in s


def test_schema_temporal_millis_comparison(spark):
    """The engine's schema-aware half: ANY registered temporal column
    (not just _event_time) compares against 10+-digit integers as epoch
    millis, per the reference's compare_values Temporal-vs-Integer arms
    (it type-dispatches at runtime on the actual FieldValue; we dispatch
    on the registered schema). A name that is an INT column stays an
    ordinary integer comparison."""
    import datetime as _dt

    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        [
            (1, _dt.datetime(2023, 10, 14, 15, 10, 40), _dt.date(2023, 10, 13),
             1_697_296_244_000),
            (2, _dt.datetime(2023, 10, 14, 15, 10, 50), _dt.date(2023, 10, 15),
             1_697_296_246_000),
        ],
        "id int, evt timestamp, d date, raw_ms bigint",
    )
    eng.register_stream("sched", df)
    cutoff = int(
        _dt.datetime(2023, 10, 14, 15, 10, 45, tzinfo=_dt.timezone.utc).timestamp()
        * 1000
    )
    got = eng.execute(f"SELECT id FROM sched WHERE evt > {cutoff}").collect()
    assert [r["id"] for r in got] == [2]
    # DATE column: midnight promotion (evaluator.rs:1126 arm)
    mid14 = int(
        _dt.datetime(2023, 10, 14, tzinfo=_dt.timezone.utc).timestamp() * 1000
    )
    got = eng.execute(f"SELECT id FROM sched WHERE d >= {mid14}").collect()
    assert [r["id"] for r in got] == [2]
    # alias-qualified reference
    got = eng.execute(
        f"SELECT s.id FROM sched s WHERE s.evt <= {cutoff}"
    ).collect()
    assert [r["id"] for r in got] == [1]
    # an INTEGER column with an epoch-scale value stays a plain int compare
    got = eng.execute(
        f"SELECT id FROM sched WHERE raw_ms > {cutoff}"
    ).collect()
    assert [r["id"] for r in got] == [2]


def test_multiformat_column_date_casts(spark):
    """CAST(col AS DATE|TIMESTAMP) on string COLUMNS tries the reference's
    format chain (types.rs:859-895): DATE = ISO, Y/m/d, m/d/Y, d-m-Y;
    TIMESTAMP adds Y/m/d H:M:S and a date-only→midnight fallback. Spark's
    bare cast parses only ISO, so '10/14/2023' in a column would error
    (ANSI) where the reference succeeds."""
    import datetime as _dt

    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        [
            (1, "2023-10-14", "2023-10-14 15:10:40"),
            (2, "2023/10/14", "2023/10/14 15:10:40"),
            (3, "10/14/2023", "2023-10-14T15:10:40"),
            (4, "14-10-2023", "2023-10-14"),  # ts: date-only → midnight
            (5, "2/3/2024", "2023/10/14 5:1:2"),  # unpadded, chrono-flexible
        ],
        "id int, ds string, tss string",
    )
    eng.register_stream("fmts", df)
    rows = {
        r["id"]: (r["d"], r["t"])
        for r in eng.execute(
            "SELECT id, CAST(ds AS DATE) AS d, CAST(tss AS TIMESTAMP) AS t "
            "FROM fmts"
        ).collect()
    }
    oct14 = _dt.date(2023, 10, 14)
    t = _dt.datetime(2023, 10, 14, 15, 10, 40)
    assert rows[1] == (oct14, t)
    assert rows[2] == (oct14, t)
    assert rows[3] == (oct14, t)
    assert rows[4] == (oct14, _dt.datetime(2023, 10, 14))
    assert rows[5] == (_dt.date(2024, 2, 3), _dt.datetime(2023, 10, 14, 5, 1, 2))
    # trial ORDER is the reference's: d-m-Y only after m/d/Y fails
    amb = spark.createDataFrame([("01-02-2024",)], "ds string")
    eng.register_stream("amb", amb)
    got = eng.execute("SELECT CAST(ds AS DATE) AS d FROM amb").collect()
    assert got[0]["d"] == _dt.date(2024, 2, 1)  # %d-%m-%Y: Feb 1, not Jan 2
    # Integer → TIMESTAMP stays Unix SECONDS through the chain (types.rs:899)
    secs = spark.createDataFrame([(1_697_296_240,)], "s bigint")
    eng.register_stream("secs", secs)
    got = eng.execute("SELECT CAST(s AS TIMESTAMP) AS t FROM secs").collect()
    assert got[0]["t"] == _dt.datetime(
        2023, 10, 14, 15, 10, 40, tzinfo=_dt.timezone.utc
    ).astimezone().replace(tzinfo=None)
    # TRY_CAST: all-formats-miss is NULL, never an error
    bad = spark.createDataFrame([("not a date",)], "ds string")
    eng.register_stream("badf", bad)
    got = eng.execute("SELECT TRY_CAST(ds AS DATE) AS d FROM badf").collect()
    assert got[0]["d"] is None


def test_frameless_last_value_reads_partition_last(spark):
    """window_functions.rs:625-652: the reference's LAST_VALUE/NTH_VALUE
    read the WHOLE partition (frame bounds never consulted), so a
    frameless pasted query must see the partition's last value — not
    Spark's default running frame (which would return the CURRENT row's
    value). Explicit frames are honored as written (adjudicated)."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)],
        "sym string, seq int, price double",
    )
    eng.register_stream("qt", df)
    rows = eng.execute(
        "SELECT sym, seq, "
        "LAST_VALUE(price) OVER (PARTITION BY sym ORDER BY seq) AS close_p, "
        "NTH_VALUE(price, 2) OVER (PARTITION BY sym ORDER BY seq) AS second_p "
        "FROM qt"
    ).collect()
    got = {(r["sym"], r["seq"]): (r["close_p"], r["second_p"]) for r in rows}
    assert got[("a", 1)] == (30.0, 20.0)  # partition-last / partition-2nd
    assert got[("a", 2)] == (30.0, 20.0)
    assert got[("a", 3)] == (30.0, 20.0)
    assert got[("b", 1)] == (5.0, None)
    # explicit frame honored: running LAST_VALUE = current row
    rows = eng.execute(
        "SELECT seq, LAST_VALUE(price) OVER (PARTITION BY sym ORDER BY seq "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_p "
        "FROM qt WHERE sym = 'a'"
    ).collect()
    assert {r["seq"]: r["run_p"] for r in rows} == {1: 10.0, 2: 20.0, 3: 30.0}


def test_ungrouped_bare_column_is_group_first(spark):
    """accumulator.rs:268+ / functions.rs:56-74: a non-aggregate,
    non-grouped select field resolves to the group's FIRST-arrival value
    in the reference (Spark would raise MISSING_AGGREGATION). Bare
    identifiers are wrapped in first(); complex ungrouped expressions
    still error (adjudicated, see _wrap_ungrouped_bare_columns)."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        [("a", 10.0, 1), ("a", 20.0, 2), ("b", 5.0, 3)],
        "sym string, price double, seq int",
    ).coalesce(1)  # one partition: arrival order == row order, like the stream
    eng.register_stream("tk", df)
    rows = eng.execute(
        "SELECT sym, price, COUNT(*) AS n FROM tk GROUP BY sym"
    ).collect()
    got = {r["sym"]: (r["price"], r["n"]) for r in rows}
    assert got == {"a": (10.0, 2), "b": (5.0, 1)}
    # grouped-by-alias form stays untouched
    rows = eng.execute(
        "SELECT sym AS s, COUNT(*) AS n FROM tk GROUP BY s"
    ).collect()
    assert {r["s"]: r["n"] for r in rows} == {"a": 2, "b": 1}


def test_phase4_doc_only_functions(spark):
    """The phase-4 examples use functions that exist NOWHERE in the
    reference's registry (its engine rejects them — doc-only):
    SESSION_START/SESSION_END (session bounds), UNNEST + STRING_TO_ARRAY
    (hashtag explosion, social_media_analytics_phase4.sql:229),
    JSON_EXTRACT_SCALAR (ecommerce_analytics_phase4.sql:227). All mapped
    so the shipped examples execute."""
    import datetime as _dt

    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark, time_col="ts")
    df = spark.createDataFrame(
        [
            (1, _dt.datetime(2024, 1, 1, 0, 1), "#a! b #c", '{"items": [{"id": 7}]}'),
            (1, _dt.datetime(2024, 1, 1, 0, 2), "#a x", '{"items": [{"id": 8}]}'),
        ],
        "k int, ts timestamp, content string, payload string",
    )
    eng.register_stream("posts", df)
    tags = [
        r["hashtag"]
        for r in eng.execute(
            "SELECT UNNEST(STRING_TO_ARRAY(REGEXP_REPLACE(content, "
            "'[^#\\\\w\\\\s]', '', 'g'), ' ')) AS hashtag FROM posts"
        ).collect()
    ]
    assert "#a" in tags and "#c" in tags and "b" in tags
    got = eng.execute(
        "SELECT JSON_EXTRACT_SCALAR(payload, '$.items[0].id') AS pid FROM posts"
    ).collect()
    assert sorted(r["pid"] for r in got) == ["7", "8"]
    rows = eng.execute(
        "SELECT SESSION_START() AS s, SESSION_END() AS e, "
        "EXTRACT(EPOCH FROM (SESSION_END() - SESSION_START())) / 60 AS mins, "
        "COUNT(*) AS n FROM posts GROUP BY k "
        "WINDOW SESSION(INTERVAL '5' MINUTE)"
    ).collect()
    assert len(rows) == 1 and rows[0]["n"] == 2
    assert rows[0]["e"] > rows[0]["s"] and rows[0]["mins"] > 0


def test_grouped_wildcard_expands_to_first_values(spark):
    """docs/sql/create-table-wildcard.md:133-143: `SELECT *, COUNT(*) ...
    GROUP BY k` is a documented reference shape — the wildcard's
    non-grouped fields resolve per group through the first-value fallback
    (accumulator.rs:268+). The engine expands * from the registered
    schema; Spark alone would raise MISSING_AGGREGATION."""
    from velostream_spark.sql.engine import SqlEngine

    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        [(1, 10.0, "x"), (1, 20.0, "y"), (2, 5.0, "z")],
        "user_id int, amount double, note string",
    ).coalesce(1)
    eng.register_stream("wc_orders", df)
    out = eng.execute(
        """
        CREATE TABLE wc_summaries AS
        SELECT user_id, order_count, total_amount
        FROM (
            SELECT *, COUNT(*) as order_count, SUM(amount) as total_amount
            FROM wc_orders
            GROUP BY user_id
        )
        """
    )
    rows = {r["user_id"]: (r["order_count"], r["total_amount"]) for r in out.collect()}
    assert rows == {1: (2, 30.0), 2: (1, 5.0)}
    got = eng.execute(
        "SELECT *, COUNT(*) AS n FROM wc_orders GROUP BY user_id"
    ).collect()
    assert sorted((r["user_id"], r["amount"], r["note"], r["n"]) for r in got) \
        == [(1, 10.0, "x", 2), (2, 5.0, "z", 1)]
    # plain wildcard (no GROUP BY) is untouched
    assert eng.execute("SELECT * FROM wc_orders").count() == 3


def test_interval_range_frame_rewritten_for_millis_columns():
    """Temporal RANGE-frame bounds (parser/window_functions.rs:459-504).
    Over the INT64 epoch-millis system columns, INTERVAL bounds become
    numeric millis; over timestamp columns they pass through to Spark's
    native interval frames. ADJUDICATION pinned here: we implement the
    TRUE temporal semantics the syntax declares — the reference's
    executor collapses every interval bound to CURRENT ROW (its offset
    match has no Range/IntervalPreceding arm and falls to `_ => 0`,
    expression/window_functions.rs:328-331) — see
    dialect._rewrite_interval_frames."""
    sql, _, _, _ = translate_select(
        "SELECT symbol, AVG(price) OVER (PARTITION BY symbol ORDER BY _timestamp "
        "RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING AND CURRENT ROW) AS a "
        "FROM trades"
    )
    assert "RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW" in sql, sql
    # both bounds as intervals
    sql, _, _, _ = translate_select(
        "SELECT AVG(price) OVER (ORDER BY _timestamp RANGE BETWEEN "
        "INTERVAL '2' HOURS PRECEDING AND INTERVAL '30' SECONDS FOLLOWING) AS a "
        "FROM trades"
    )
    assert "BETWEEN 7200000 PRECEDING AND 30000 FOLLOWING" in sql, sql
    # timestamp ORDER BY column: untouched (Spark executes it natively)
    sql, _, _, _ = translate_select(
        "SELECT AVG(price) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '10' MINUTE "
        "PRECEDING AND CURRENT ROW) AS a FROM trades"
    )
    assert "INTERVAL '10' MINUTE PRECEDING" in sql, sql
    # ROWS frames never carry interval bounds (the reference parser
    # rejects them; nothing to rewrite) — and a RANGE frame elsewhere in
    # the statement must not bleed into an adjacent OVER body
    sql, _, _, _ = translate_select(
        "SELECT SUM(v) OVER (ORDER BY _timestamp ROWS BETWEEN 3 PRECEDING AND "
        "CURRENT ROW) AS s, AVG(v) OVER (ORDER BY _timestamp RANGE BETWEEN "
        "INTERVAL '1' SECOND PRECEDING AND CURRENT ROW) AS a FROM t"
    )
    assert "ROWS BETWEEN 3 PRECEDING" in sql and "1000 PRECEDING" in sql, sql


def test_interval_range_frame_executes_true_temporal_semantics(spark):
    """10:00/10:05/10:20 with a 10-minute trailing frame: the middle row
    averages rows 1-2, the late row only itself — the CURRENT-ROW
    collapse the reference executes would return the raw value for all
    three."""
    spark.createDataFrame(
        [(1, 0, 5.0), (1, 300_000, 7.0), (1, 1_200_000, 9.0)],
        "k int, _timestamp long, v double",
    ).createOrReplaceTempView("iv_frames")
    sql, _, _, _ = translate_select(
        "SELECT k, _timestamp, AVG(v) OVER (PARTITION BY k ORDER BY _timestamp "
        "RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING AND CURRENT ROW) AS a "
        "FROM iv_frames"
    )
    got = {r["_timestamp"]: r["a"] for r in spark.sql(sql).collect()}
    assert got == {0: 5.0, 300_000: 6.0, 1_200_000: 9.0}


# -- schema-on-read missing columns (evaluator.rs:234, :520) -----------------


def test_missing_column_resolves_to_null(engine):
    """The reference's evaluator resolves an identifier naming no field to
    NULL instead of erroring (evaluator.rs:234, :520: "Return NULL if not
    found instead of error") — schema-on-read records have no closed
    schema. The engine mirrors that via an analyze-retry rewrite."""
    df = engine.execute(
        "SELECT c_custkey, ghost_col FROM customer WHERE c_custkey BETWEEN 1 AND 3"
    )
    rows = df.orderBy("c_custkey").collect()
    assert [r["c_custkey"] for r in rows] == [1, 2, 3]
    assert df.columns == ["c_custkey", "ghost_col"]
    assert all(r["ghost_col"] is None for r in rows)


def test_missing_column_in_predicates_is_null_semantics(engine):
    # NULL = 5 is unknown -> filters everything (reference: NULL comparison
    # -> false through field_value_to_bool)
    assert engine.execute(
        "SELECT c_custkey FROM customer WHERE ghost_col = 5"
    ).count() == 0
    # IS NULL keeps every row
    total = engine.execute("SELECT COUNT(*) AS n FROM customer").first()["n"]
    assert engine.execute(
        "SELECT c_custkey FROM customer WHERE ghost_col IS NULL"
    ).count() == total
    # expressions over the missing field propagate NULL
    r = engine.execute(
        "SELECT c_custkey, ghost_col + 1 AS g1, UPPER(ghost2) AS g2 "
        "FROM customer WHERE c_custkey = 1"
    ).first()
    assert r["g1"] is None and r["g2"] is None


def test_missing_column_never_rewrites_valid_or_string_literals(engine):
    # a valid query with a string literal equal to a column-ish word runs
    # through the plain path (rewrite only fires on UNRESOLVED_COLUMN)
    df = engine.execute(
        "SELECT c_name FROM customer WHERE c_name = 'ghost_col'"
    )
    assert df.count() == 0
    # genuinely malformed SQL still raises
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.execute("SELECT FROM WHERE")
