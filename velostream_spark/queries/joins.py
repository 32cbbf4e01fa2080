"""Join operators: stream-table (broadcast), multi-way, outer, interval
(time-range), semi/anti, and graceful-degradation defaults.

Reference parity (SURVEY.md §2.3):
- Stream-table join — reference src/velostream/sql/execution/processors/stream_table_join.rs:22-455
  (per-record O(1) hash lookup into a materialized table). Spark-first: an
  equi-join against the dimension table; Catalyst auto-broadcasts the small
  side so every executor gets the same O(1) hash lookup, distributed.
- Graceful degradation (UseDefaults/EmitNulls/SkipRecord) — reference
  src/velostream/server/graceful_degradation.rs:16-30 → left join + coalesce /
  inner join / left join.
- Interval stream-stream join — reference processors/interval_join.rs:39 →
  time-range join condition (Spark plans stream-stream interval joins natively
  with watermark-bounded state; batch analog below uses the same condition).
- Join types INNER/LEFT/RIGHT/FULL — reference ast.rs:541-552; semi/anti are
  a Spark superset (the reference covers them only via EXISTS/IN subqueries).

Scale notes: dimension joins broadcast (no shuffle of the fact table);
fact-fact joins shuffle on the join key where AQE handles skew; the interval
self-join pre-buckets both sides on a coarse time bucket so the range match
never becomes a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velostream_spark.registry import query, tables


@query(
    "stream_table_join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'O'
    """,
    tags=("join", "broadcast"),
)
def stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-table enrichment join (reference stream_table_join.rs:91):
    fact stream enriched through a chain of dimension tables.

    All three dims broadcast (customer/nation/region are tiny relative to
    orders at every scale factor), so the plan is a single scan of orders
    with three BroadcastHashJoins — zero shuffles, which is exactly the
    reference's O(1)-lookup-per-record model, distributed.
    """
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .where(F.col("o_orderstatus") == "O")
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "o_orderkey",
            "o_totalprice",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


@query(
    "join_left_with_defaults",
    oracle="""
    SELECT l.l_orderkey, l.l_partkey,
           COALESCE(p.p_brand, 'UNKNOWN') AS brand,
           COALESCE(p.p_retailprice, 0.0) AS retail_price
    FROM (SELECT * FROM lineitem WHERE l_linenumber = 1) l
    LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p ON l.l_partkey = p.p_partkey
    """,
    tags=("join", "graceful-degradation"),
)
def join_left_with_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graceful-degradation UseDefaults mode (reference
    graceful_degradation.rs:16-30): left join + COALESCE defaults for
    missing table rows. EmitNulls is the plain left join; SkipRecord is an
    inner join — all three reduce to join-mode selection here."""
    t = tables(spark, sf_dir)
    li = t["lineitem"].where(F.col("l_linenumber") == 1)
    p = t["part"].where(F.col("p_size") > 25)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left")
        .select(
            "l_orderkey",
            "l_partkey",
            F.coalesce(F.col("p_brand"), F.lit("UNKNOWN")).alias("brand"),
            F.coalesce(F.col("p_retailprice"), F.lit(0.0)).alias("retail_price"),
        )
    )


@query(
    "full_outer_join",
    oracle="""
    SELECT COALESCE(a.k, b.k) AS k, a.n_f, b.n_o
    FROM (SELECT o_custkey AS k, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) a
    FULL OUTER JOIN
         (SELECT o_custkey AS k, COUNT(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) b
    ON a.k = b.k
    """,
    tags=("join", "outer"),
)
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (reference ast.rs:541-552 JoinType::FullOuter)."""
    t = tables(spark, sf_dir)
    o = t["orders"]
    a = (
        o.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    b = (
        o.where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    return a.join(b, a["k"] == b["k"], "full_outer").select(
        F.coalesce(a["k"], b["k"]).alias("k"), "n_f", "n_o"
    )


@query(
    "semi_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
    """,
    tags=("join", "semi", "anti"),
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins — the physical form of the reference's
    IN / NOT IN subqueries (reference subquery_executor.rs:20-104); Spark
    exposes them directly as join types."""
    t = tables(spark, sf_dir)
    o = t["orders"]
    big = o.where(F.col("o_totalprice") > 300000).select("o_custkey")
    pend = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == big["o_custkey"], "left_semi")
        .join(pend, F.col("c_custkey") == pend["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "interval_join",
    oracle="""
    SELECT a.event_id AS left_id, b.event_id AS right_id,
           a.user_id, a.ts AS left_ts, b.ts AS right_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
    tags=("join", "interval", "stream-stream"),
)
def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval stream-stream join (reference interval_join.rs:39:
    right.time in [left.time+lower, left.time+upper]): click→purchase
    attribution within 10 minutes per user.

    Batch analog of the streaming form (same condition under watermarks —
    velostream_spark.streaming). The equi-key on user_id keeps this a hash
    join with a range residual, not a cartesian: state per key is bounded
    by the 10-minute span exactly as the reference's dual state stores
    bound theirs.
    """
    t = tables(spark, sf_dir)
    ev = t["events"]
    a = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("left_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("left_ts"),
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("right_ts"),
    )
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select(
            "left_id",
            "right_id",
            F.col("a_user").alias("user_id"),
            "left_ts",
            "right_ts",
        )
    )


@query(
    "windowed_join",
    oracle="""
    WITH w AS (
      SELECT user_id, event_type, event_id,
             to_timestamp(floor(epoch(ts) / 300) * 300)::TIMESTAMP AS window_start
      FROM events
    )
    SELECT a.window_start, a.user_id,
           COUNT(*) AS n_pairs
    FROM (SELECT * FROM w WHERE event_type = 'view') a
    JOIN (SELECT * FROM w WHERE event_type = 'click') b
      ON a.window_start = b.window_start AND a.user_id = b.user_id
    GROUP BY a.window_start, a.user_id
    """,
    tags=("join", "windowed"),
)
def windowed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window co-windowed join (reference coordinator.rs:92-102):
    two streams matched within the same 5-minute tumbling window + key.

    Spark-first: join on (window, key) — the window bucket is just another
    equi-join column, so this shuffles once on (window,user) and never holds
    more than one window of state per key."""
    t = tables(spark, sf_dir)
    ev = t["events"].withColumn("win", F.window("ts", "5 minutes"))
    a = ev.where(F.col("event_type") == "view").select(
        F.col("win").alias("a_win"), F.col("user_id").alias("a_user"), "event_id"
    )
    b = ev.where(F.col("event_type") == "click").select(
        F.col("win").alias("b_win"), F.col("user_id").alias("b_user")
    )
    return (
        a.join(b, (F.col("a_win") == F.col("b_win")) & (F.col("a_user") == F.col("b_user")))
        .groupBy(
            F.col("a_win").start.alias("window_start"),
            F.col("a_user").alias("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "session_join",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, ts, event_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    gaps AS (
      SELECT *,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS sid
      FROM gaps
    ),
    bounds AS (
      SELECT *, MIN(ts) OVER (PARTITION BY user_id, sid) AS session_start
      FROM sess
    )
    SELECT a.event_id AS click_id,
           b.event_id AS view_id,
           a.user_id  AS user_id,
           a.session_start
    FROM bounds a JOIN bounds b
      ON a.user_id = b.user_id AND a.sid = b.sid
    WHERE a.event_type = 'click' AND b.event_type = 'view'
    """,
    tags=("join", "session", "stream-stream", "velostream-specific"),
)
def session_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-windowed stream-stream join (reference JoinMode session
    co-windowing, coordinator.rs:101-102): click and view events of one
    user match iff they fall in the same 30-minute-gap session.

    Spark-first composition (SURVEY §2 option (a)): sessionize the UNION of
    both sides per key (gaps-and-islands — one window pass), then equi-join
    on (user, session). The co-sessionization is exactly the reference's
    merged-session semantics: a click and view extend each other's session.
    One shuffle on user_id for the window pass, one on (user, sid) for the
    join — both AQE-coalesced. The unbounded streaming form would be a
    transformWithState op (deferred; this pins the join semantics)."""
    from pyspark.sql.window import Window

    t = tables(spark, sf_dir)
    ev = (
        t["events"]
        .where(F.col("event_type").isin("click", "view"))
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
        1,
    ).otherwise(0)
    sess = ev.withColumn("sid", F.sum(new_session).over(w))
    bounds = sess.withColumn(
        "session_start", F.min("ts").over(Window.partitionBy("user_id", "sid"))
    )
    a = bounds.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "sid",
        "session_start",
    )
    b = bounds.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("b_user"),
        F.col("sid").alias("b_sid"),
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("b_user")) & (F.col("sid") == F.col("b_sid")),
    ).select("click_id", "view_id", "user_id", "session_start")


_ASOF_JOIN_ORACLE = """
WITH snaps AS (
  SELECT user_id, ts,
         max_by(value, event_id) AS snap_value,
         MAX(event_id)           AS snap_event_id
  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts
),
l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0)
SELECT l.event_id, l.user_id, l.ts,
       s.snap_value    AS asof_snap_value,
       s.snap_event_id AS asof_snap_event_id
FROM l ASOF LEFT JOIN snaps s
  ON l.user_id = s.user_id AND l.ts >= s.ts
"""


@query(
    "asof_join",
    oracle=_ASOF_JOIN_ORACLE,
    tags=("join", "asof", "time-series", "beyond-reference"),
)
def asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT AS-OF join (operators/asof.py): every event gets the latest
    preceding snapshot (every 10th event, deduped to one row per
    (user, ts) with max_by) for its user — the time-series enrichment
    join Spark lacks as a native operator (DuckDB/Pandas/kdb have it;
    the task brief names it as the canonical missing operator).

    Spark-first shape: union both sides on the (user, ts) spine and
    fill-forward with ONE window — a single keyed exchange + sort, never
    a range-condition nested-loop join. The oracle is DuckDB's NATIVE
    ``ASOF LEFT JOIN``, so the semantics (inclusive rt <= t, NULLs when
    nothing precedes) are cross-checked against an independent
    first-class implementation."""
    from velostream_spark.operators.asof import asof_join

    t = tables(spark, sf_dir)
    ev = t["events"]
    snaps = (
        ev.where(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("snap_value"),
            F.max("event_id").alias("snap_event_id"),
        )
    )
    left = ev.where(F.col("event_id") % 10 != 0).select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        left, snaps, key="user_id", left_ts="ts", right_ts="ts",
        payload=["snap_value", "snap_event_id"],
    )


_RANGE_JOIN_ORACLE = """
WITH bands AS (
  SELECT i AS band_id, i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
  FROM (SELECT UNNEST(range(0, 25)) AS i)
)
SELECT e.event_id, e.value, b.band_id, b.lo, b.hi
FROM events e JOIN bands b
  ON e.value >= b.lo AND e.value <= b.hi
"""


@query(
    "range_join",
    oracle=_RANGE_JOIN_ORACLE,
    tags=("join", "range", "beyond-reference"),
)
def range_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (operators/rangejoin.py): every event
    joined to each OVERLAPPING value band (25 bands, stride 20 width 30 —
    deliberately overlapping so points multi-match, the case a simple
    bucketing-by-assignment can't express). Spark plans a BETWEEN join as
    a nested-loop scan; the bucketized form is a plain equi-join on
    floor(v/w) with an exact re-check — each (point, band) pair meets on
    exactly one bucket replica, so no dedup pass. Oracle: the naive
    BETWEEN join, which DuckDB executes natively."""
    from velostream_spark.operators.rangejoin import range_join

    t = tables(spark, sf_dir)
    bands = spark.range(0, 25).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 20.0).alias("lo"),
        (F.col("id") * 20.0 + 30.0).alias("hi"),
    )
    return range_join(
        t["events"].select("event_id", "value"),
        bands,
        value_col="value",
        lo_col="lo",
        hi_col="hi",
        bucket_width=20.0,
    ).select("event_id", "value", "band_id", "lo", "hi")


_HYPERTABLE_ROLLUP_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_hour,
       event_type,
       COUNT(*)                            AS n_events,
       ROUND(SUM(value), 4)                AS total_value,
       ROUND(AVG(value), 6)                AS avg_value,
       COUNT(DISTINCT user_id)             AS n_users
FROM events
GROUP BY ROLLUP (bucket_hour, event_type)
"""


@query(
    "hypertable_rollup",
    oracle=_HYPERTABLE_ROLLUP_ORACLE,
    tags=("aggregation", "time-window", "rollup", "beyond-reference"),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup (the TimescaleDB
    pattern): events bucketed to the hour, aggregated per
    (bucket, event_type) PLUS the per-bucket and grand-total rollup
    levels in one pass — the materialized summary a time-series store
    keeps per chunk. Pure Catalyst: date_trunc is scan-side, the three
    grouping sets expand map-side (Expand + partial agg), and the only
    corpus-scale shuffle is COUNT(DISTINCT user_id)'s two-phase
    expansion keyed on the same strata (the corpus_stats trade — swap in
    approx_count_distinct for the 100-TB continuous aggregate)."""
    t = tables(spark, sf_dir)
    ev = t["events"].select(
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
        "event_type",
        "value",
        "user_id",
    )
    return ev.rollup("bucket_hour", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "hypertable_rollup_approx",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_hour,
           event_type,
           COUNT(*)                            AS n_events,
           ROUND(SUM(value), 4)                AS total_value,
           ROUND(AVG(value), 6)                AS avg_value,
           COUNT(DISTINCT user_id)             AS n_users,
           TRUE                                AS users_within_bound
    FROM events
    GROUP BY ROLLUP (bucket_hour, event_type)
    """,
    tags=("aggregation", "time-window", "rollup", "beyond-reference", "approx"),
)
def hypertable_rollup_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB continuous-aggregate twin of :func:`hypertable_rollup`:
    identical rollup, but the per-stratum user cardinality uses
    a HyperLogLog sketch (Datasketches ``hll_sketch_agg`` lgConfigK=14,
    rsd ≈ 0.81% ≤ 0.01 — r15-opt: the HLL++ ``approx_count_distinct``
    form carried a 1639-long-column fixed buffer per sketch through the
    rollup aggregate and its Exchange; the Datasketches form is one
    growable binary buffer per stratum via ObjectHashAggregate, branch
    measured 1.10 → 0.30 s at sf0.1, OPTIMIZATION_r15.md §1) so the distinct
    term — the exact form's ONLY corpus-scale shuffle, one row per
    distinct (stratum, user) per grouping set, measured as the dominant
    growing term at the 512x spot — carries ONE fixed-size sketch per
    (grouping set x stratum) instead. That is exactly what a time-series
    store materializes per chunk: sketches merge across chunks, exact
    distincts don't. HLL estimates differ across engines, so the entry
    carries the r13-verdict validation shape (the corpus_stats_approx /
    approx_count_distinct convention): exact n_users recomputed in the
    same query plus an all-true ``users_within_bound`` asserting the HLL
    estimate within 4x rsd — a bound violation is a driver-caught hash
    mismatch. The exact recompute is the validation harness; production
    emits the sketch alone.

    The HLL runs in its OWN rollup branch, joined back on
    (grouping_id, null-safe keys): mixed into the exact aggregation it
    would sit under the COUNT(DISTINCT user_id) Expand grouping — one
    16 KB sketch buffer per distinct (stratum, user) instead of one per
    stratum (the r15 approx_count_distinct finding; measured
    5.7 → ~1 s at sf0.1)."""
    t = tables(spark, sf_dir)
    ev = t["events"].select(
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
        "event_type",
        "value",
        "user_id",
    )
    tol = 4 * 0.01
    sketch = (
        ev.rollup("bucket_hour", "event_type")
        .agg(
            F.grouping_id().alias("_gid"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("_ua"),
        )
        .select(
            F.col("bucket_hour").alias("_sb"),
            F.col("event_type").alias("_se"),
            "_gid",
            "_ua",
        )
    )
    exact = ev.rollup("bucket_hour", "event_type").agg(
        F.grouping_id().alias("_gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return (
        exact.join(
            F.broadcast(sketch),
            (exact["_gid"] == sketch["_gid"])
            & exact["bucket_hour"].eqNullSafe(sketch["_sb"])
            & exact["event_type"].eqNullSafe(sketch["_se"]),
        )
        .select(
            "bucket_hour",
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
            "n_users",
            (
                F.abs(F.col("_ua") - F.col("n_users")).cast("double")
                # +3 absolute slack for tiny strata (register collisions
                # cost O(1) counts — the corpus_stats_approx convention)
                <= F.lit(tol) * F.col("n_users").cast("double") + F.lit(3.0)
            ).alias("users_within_bound"),
        )
    )
