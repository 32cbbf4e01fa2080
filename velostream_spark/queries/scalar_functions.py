"""Scalar + aggregate function catalog coverage.

Reference parity (SURVEY.md §2.9): the reference's 75-function registry at
src/velostream/sql/execution/expression/functions.rs:3040-3791
(docs/sql/FUNCTION_CATALOG.md). Each battery below exercises one family with
identical aliases on the Spark and DuckDB sides.

Cross-engine type notes (encoded in both sides so schemas hash-match):
- Spark ceil/floor(double) → BIGINT while DuckDB returns DOUBLE → oracle casts.
- Spark length/instr → INT while DuckDB returns BIGINT → Spark casts to long.
- DuckDB regexp_replace is first-match by default → 'g' flag in the oracle.
- DuckDB SUM(int) → HUGEINT → oracle casts to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velostream_spark.registry import query, tables


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 1000.0)          AS abs_diff,
           ROUND(l_extendedprice, 1)              AS rounded,
           CAST(CEIL(l_discount * 100) AS BIGINT)  AS ceil_disc,
           CAST(FLOOR(l_tax * 100) AS BIGINT)      AS floor_tax,
           ROUND(SQRT(l_quantity), 6)             AS sqrt_qty,
           ROUND(POWER(l_discount, 2), 8)         AS disc_sq,
           MOD(l_orderkey, 7)                     AS key_mod,
           LEAST(l_quantity, 25.0)                AS least_q,
           GREATEST(l_quantity, 25.0)             AS greatest_q
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
    tags=("functions", "math"),
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABS/ROUND/CEIL/FLOOR/SQRT/POWER/MOD/LEAST/GREATEST
    (reference functions.rs:3273-3345)."""
    t = tables(spark, sf_dir)
    li = t["lineitem"].where(F.col("l_linenumber") <= 2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_diff"),
        F.round("l_extendedprice", 1).alias("rounded"),
        F.ceil(F.col("l_discount") * 100).alias("ceil_disc"),
        F.floor(F.col("l_tax") * 100).alias("floor_tax"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.pow("l_discount", 2), 8).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("least_q"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("greatest_q"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name)                                   AS name_upper,
           LOWER(p_brand)                                  AS brand_lower,
           SUBSTRING(p_name, 1, 8)                         AS name_prefix,
           REPLACE(p_type, ' ', '_')                       AS type_snake,
           TRIM(CONCAT('  ', p_brand, '  '))               AS trimmed,
           CAST(LENGTH(p_name) AS BIGINT)                  AS name_len,
           CONCAT(p_brand, '#', p_type)                    AS brand_type,
           LEFT(p_name, 5)                                 AS name_left,
           RIGHT(p_name, 5)                                AS name_right,
           SPLIT_PART(p_type, ' ', 1)                      AS type_first_word,
           CAST(POSITION('a' IN p_name) AS BIGINT)         AS a_pos,
           (p_name LIKE '%gold%')                          AS has_gold,
           REGEXP_REPLACE(p_type, '[aeiou]', '*', 'g')     AS type_devoweled,
           (p_brand || '-' || p_type)                      AS concat_op
    FROM part
    """,
    tags=("functions", "string"),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPPER/LOWER/SUBSTRING/REPLACE/TRIM/LENGTH/CONCAT/LEFT/RIGHT/
    SPLIT_PART/POSITION/LIKE/REGEXP_REPLACE/|| concat
    (reference functions.rs:3358-3502, ast.rs:805-835)."""
    t = tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("trimmed"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.substring("p_name", 1, 5).alias("name_left"),
        F.expr("right(p_name, 5)").alias("name_right"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_word"),
        F.instr("p_name", "a").cast("long").alias("a_pos"),
        F.col("p_name").like("%gold%").alias("has_gold"),
        F.regexp_replace("p_type", "[aeiou]", "*").alias("type_devoweled"),
        F.concat_ws("-", "p_brand", "p_type").alias("concat_op"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)    AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)   AS mon,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT)     AS dom,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
           CAST(EXTRACT(WEEK FROM o_orderdate) AS BIGINT)    AS wk,
           STRFTIME(o_orderdate, '%Y-%m-%d')                 AS order_day,
           CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2000-01-01') AS BIGINT) AS days_to_y2k,
           CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)         AS epoch_s
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
    tags=("functions", "datetime"),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT parts / DATE_FORMAT / DATEDIFF / UNIX_TIMESTAMP
    (reference functions.rs:3542-3596; EXTRACT parts functions.rs:1904-1923)."""
    t = tables(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderkey") % 3 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mon"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.weekofyear("o_orderdate").cast("long").alias("wk"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate")).cast("long").alias("days_to_y2k"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "conditional_functions",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_adj,
           CAST(TRUNC(c_acctbal) AS BIGINT) AS bal_int,
           CAST(c_custkey AS VARCHAR)       AS key_str,
           CAST(c_acctbal > 0 AS BOOLEAN)   AS in_credit,
           (c_acctbal IS NULL)              AS bal_is_null,
           (c_acctbal IS NOT NULL)          AS bal_not_null
    FROM customer
    """,
    tags=("functions", "conditional", "cast"),
)
def conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE/NULLIF/CAST/IS NULL (reference functions.rs:3609-3627,
    unary IS NULL ops ast.rs:837-844; CAST targets types.rs:740+)."""
    t = tables(spark, sf_dir)
    c = t["customer"]
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_adj"
        ),
        F.col("c_acctbal").cast("long").alias("bal_int"),
        F.col("c_custkey").cast("string").alias("key_str"),
        (F.col("c_acctbal") > 0).cast("boolean").alias("in_credit"),
        F.col("c_acctbal").isNull().alias("bal_is_null"),
        F.col("c_acctbal").isNotNull().alias("bal_not_null"),
    )


@query(
    "json_functions",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                 AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           (json_extract(props, '$.k') IS NOT NULL)          AS has_k,
           (json_extract(props, '$.missing') IS NOT NULL)    AS has_missing
    FROM events
    WHERE event_id % 2 = 0
    """,
    tags=("functions", "json"),
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON_VALUE / JSON_EXTRACT / JSON_EXISTS over a JSON string column
    (reference functions.rs:3640-3667) → get_json_object."""
    t = tables(spark, sf_dir)
    ev = t["events"].where(F.col("event_id") % 2 == 0)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"),
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
        F.get_json_object("props", "$.missing").isNotNull().alias("has_missing"),
    )


@query(
    "collection_functions",
    oracle="""
    SELECT p_partkey,
           CAST(len(string_split(p_type, ' ')) AS INTEGER)     AS n_words,
           string_split(p_type, ' ')[1]                        AS first_word,
           list_contains(string_split(p_type, ' '), 'brushed') AS has_brushed,
           array_to_string(list_sort(string_split(p_type, ' ')), ',') AS sorted_words,
           map_from_entries([('brand', p_brand), ('type', p_type)])['brand'][1]
             AS brand_from_map,
           struct_pack(k := p_partkey, b := p_brand).b         AS struct_brand
    FROM part
    WHERE p_partkey % 4 = 0
    """,
    tags=("functions", "collections"),
)
def collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY/STRUCT/MAP constructors + ARRAY_LENGTH/ARRAY_CONTAINS/element
    access/MAP access (reference functions.rs:3680-3734). Collection values
    are built then reduced to scalar outputs so the oracle hash compares
    engine-neutral values."""
    t = tables(spark, sf_dir)
    p = t["part"].where(F.col("p_partkey") % 4 == 0)
    words = F.split(F.col("p_type"), " ")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    s = F.struct(F.col("p_partkey").alias("k"), F.col("p_brand").alias("b"))
    return p.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        words.getItem(0).alias("first_word"),
        F.array_contains(words, "brushed").alias("has_brushed"),
        F.array_join(F.array_sort(words), ",").alias("sorted_words"),
        m.getItem("brand").alias("brand_from_map"),
        s.getField("b").alias("struct_brand"),
    )


@query(
    "statistical_aggs",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_POP(l_extendedprice), 4)  AS std_pop,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_samp,
           ROUND(VAR_POP(l_quantity), 6)          AS var_pop,
           ROUND(VAR_SAMP(l_quantity), 6)         AS var_samp,
           ROUND(CORR(l_quantity, l_extendedprice), 6)      AS qty_price_corr,
           ROUND(COVAR_POP(l_quantity, l_extendedprice), 4) AS qty_price_covp,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS qty_price_covs,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6)     AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6)        AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "statistical"),
)
def statistical_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STDDEV*/VAR*/CORR/COVAR*/REGR_* (reference accumulator.rs:146-168,
    functions.rs:3215-3268) — all Spark built-ins, computed in one pass with
    partial aggregation instead of the reference's buffered-values approach."""
    t = tables(spark, sf_dir)
    li = t["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("std_pop"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_samp"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_pop"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_samp"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("qty_price_covp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covs"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


@query(
    "percentile_aggs",
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 4) AS med_price,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           quantile_disc(l_quantity, 0.5) AS qty_p50_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "percentile"),
)
def percentile_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN / PERCENTILE_CONT / PERCENTILE_DISC — exact (reference
    accumulator.rs:169-197, functions.rs:3139-3206). Spark's exact
    `percentile` matches DuckDB's quantile_cont interpolation."""
    t = tables(spark, sf_dir)
    li = t["lineitem"]
    # One percentile() call with an array of fractions buffers each group's
    # values ONCE (vs once per quantile) — the dominant cost of exact
    # percentiles at scale is that buffer, so fuse all three.
    pct = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            pct.alias("_pct"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").alias(
                "qty_p50_disc"
            ),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_pct")[1], 4).alias("med_price"),
            F.round(F.col("_pct")[0], 4).alias("p25"),
            F.round(F.col("_pct")[2], 4).alias("p95"),
            "qty_p50_disc",
        )
    )


@query(
    "percentile_aggs_approx",
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 4) AS med_price,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           quantile_disc(l_quantity, 0.5) AS qty_p50_disc,
           TRUE AS p25_within_bound,
           TRUE AS med_within_bound,
           TRUE AS p95_within_bound,
           TRUE AS qty_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "percentile", "sketch", "beyond-reference", "approx"),
)
def percentile_aggs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB twin of :func:`percentile_aggs`: ``approx_percentile``
    (Greenwald-Khanna, accuracy 10000 → rank error <= n/10000) instead of
    exact percentiles. The exact form BUFFERS every group's values in the
    aggregation state — memory ∝ group size, the one aggregate in the
    catalog that cannot stream; the sketch holds a fixed-size summary per
    group and merges across partitions, so percentile dashboards at
    corpus scale are one ordinary aggregation. Same exact-vs-sketch trade
    as the HLL / Bloom / count-min twins. GK sketches have no
    cross-engine value oracle (they return OBSERVED values near the
    target rank), so the entry carries the r13-verdict validation shape:
    the SAME query recomputes the exact percentiles and asserts each GK
    estimate lies between the exact DISC percentiles at p ± 0.001 (10x
    the accuracy-10000 rank guarantee, as slack) — the emitted columns
    are the deterministic exact values plus all-true ``*_within_bound``
    booleans DuckDB rebuilds literally, so a bound violation is a hash
    mismatch the driver catches."""
    t = tables(spark, sf_dir)
    li = t["lineitem"]
    # pass 1: the GK sketches alone (fixed-size state, the production
    # aggregation); pass 2 broadcasts the 3 per-group sketch rows back
    # and validates the RANK contract directly with conditional counts —
    # rank(v) ∈ [#{x<v}+1, #{x<=v}] must intersect [p·n ± ε'·n] — so the
    # validation adds NO sorted buffers beyond the exact twin's own fused
    # percentile (the first r14 form used 8 separate percentile_disc
    # bounds: 8 extra per-group buffers, measured 2.86 s vs the exact
    # twin's 0.55 s at the bench scale; this form is the rank check the
    # GK guarantee actually states)
    eps = 0.001  # 10x the accuracy-10000 rank guarantee, as slack

    apct = F.expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.95), 10000)"
    )
    sk = li.groupBy("l_returnflag").agg(
        apct.alias("_apct"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("_aqty"),
    )

    def cnt(pred) -> "F.Column":
        return F.sum(pred.cast("long"))

    pct = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95))
    )
    # the sketch values ride every row via the 3-row broadcast, so the
    # rank counts are plain conditional sums — scan-side codegen
    measures = {
        "25": ("l_extendedprice", F.col("_apct")[0], 0.25),
        "50": ("l_extendedprice", F.col("_apct")[1], 0.50),
        "95": ("l_extendedprice", F.col("_apct")[2], 0.95),
        "q": ("l_quantity", F.col("_aqty"), 0.50),
    }
    counts = []
    for key, (col, v, _p) in measures.items():
        counts.append(cnt(F.col(col) < v).alias(f"_lt{key}"))
        counts.append(cnt(F.col(col) <= v).alias(f"_le{key}"))
    agg = (
        li.join(F.broadcast(sk), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            pct.alias("_pct"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("qty_p50_disc"),
            F.count(F.lit(1)).cast("double").alias("_n"),
            *counts,
        )
    )

    def rank_ok(key: str, p: float):
        lo = (F.lit(p) - F.lit(eps)) * F.col("_n") - F.lit(1.0)
        hi = (F.lit(p) + F.lit(eps)) * F.col("_n") + F.lit(1.0)
        return (F.col(f"_lt{key}") + F.lit(1) <= hi) & (
            F.col(f"_le{key}") >= lo
        )

    return agg.select(
        "l_returnflag",
        F.round(F.col("_pct")[1], 4).alias("med_price"),
        F.round(F.col("_pct")[0], 4).alias("p25"),
        F.round(F.col("_pct")[2], 4).alias("p95"),
        "qty_p50_disc",
        rank_ok("25", 0.25).alias("p25_within_bound"),
        rank_ok("50", 0.50).alias("med_within_bound"),
        rank_ok("95", 0.95).alias("p95_within_bound"),
        rank_ok("q", 0.50).alias("qty_within_bound"),
    )


@query(
    "first_last_aggs",
    oracle="""
    SELECT user_id,
           min_by(value, event_id) AS first_value_by_arrival,
           max_by(value, event_id) AS last_value_by_arrival,
           min(ts)  AS first_ts,
           max(ts)  AS last_ts
    FROM events
    GROUP BY user_id
    """,
    tags=("aggregation", "first-last"),
)
def first_last_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST/LAST per group (reference accumulator.rs:222-243). The
    reference's FIRST/LAST are arrival-ordered; the deterministic
    distributed equivalent is min_by/max_by over the arrival-order key
    (event_id), which is order-insensitive across partitions."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min_by("value", "event_id").alias("first_value_by_arrival"),
            F.max_by("value", "event_id").alias("last_value_by_arrival"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


@query(
    "string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           COUNT(*) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("aggregation", "string-agg"),
)
def string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING_AGG / GROUP_CONCAT / LISTAGG (reference accumulator.rs:244-258)
    with deterministic ORDER BY — collect_list + array_sort + array_join."""
    t = tables(spark, sf_dir)
    return (
        t["nation"]
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey)  AS n_parts,
           TRUE AS orders_within_bound,
           TRUE AS parts_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "approx", "sketch"),
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_COUNT_DISTINCT — the reference fakes this with an exact
    HashSet (accumulator.rs:212-220); we use a real HyperLogLog sketch,
    which is the point at 100 TB (bounded memory per group). The sketch
    is Spark's Datasketches ``hll_sketch_agg`` at lgConfigK=14 (rsd =
    1.04/sqrt(2^14) ≈ 0.81% ≤ the 0.01 the validation band assumes). HLL
    estimates differ across engines, so the entry carries the r13-verdict
    validation shape: the SAME query recomputes the exact distinct counts
    and asserts each HLL estimate within 4x rsd 0.01 (±4%, well past the
    three-sigma tail; the sketch is a deterministic register-max over the
    input set, so the boolean is stable) — emitted columns are the exact
    counts plus all-true ``*_within_bound`` booleans DuckDB rebuilds
    literally, making a bound violation a driver-caught hash mismatch.

    The sketch aggregates run in their OWN aggregation branch, joined
    back on the (broadcast, 3-row) group keys: mixing a sketch agg
    with exact COUNT(DISTINCT) in one agg plants the sketch partial
    state under the distinct-Expand grouping — one sketch buffer PER
    DISTINCT KEY VALUE, millions of buffers instead of 2 per group
    (measured 47.9 s → sub-second at sf0.1, r15). The same split applies
    to the rollup twins (corpus_stats_approx, hypertable_rollup_approx).

    r15-opt (guide §2.3 narrower types / §1 measure): the sketch branch
    itself switched from ``approx_count_distinct(rsd=0.01)`` — HLL++ as
    an ImperativeAggregate whose FIXED buffer is 2x1639 long columns
    ("Aggregate Attributes [3278]" in plans/r15/
    approx_count_distinct_before.txt), inlined per group into
    HashAggregate rows and shuffled as 26 KB-wide rows — to Datasketches
    ``hll_sketch_agg(col, 14)``: a TypedImperativeAggregate with ONE
    growable binary buffer per group via ObjectHashAggregate (sparse
    below ~thousands of distincts, ≤12 KB dense). Same estimator family,
    same precision class, identical emitted columns; branch measured
    1.62 s → 0.245 s at sf0.1 (OPTIMIZATION_r15.md §1)."""
    t = tables(spark, sf_dir)
    tol = 4 * 0.01

    def ok(approx: str, exact: str):
        d = F.abs(F.col(approx) - F.col(exact)).cast("double")
        # +3 absolute slack for tiny groups (register collisions cost
        # O(1) counts — the corpus_stats_approx convention)
        return d <= F.lit(tol) * F.col(exact).cast("double") + F.lit(3.0)

    li = t["lineitem"]
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey", F.lit(14))).alias("_ao"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(14))).alias("_ap"),
    )
    return exact.join(F.broadcast(sketch), "l_returnflag").select(
        "l_returnflag",
        "n_orders",
        "n_parts",
        ok("_ao", "n_orders").alias("orders_within_bound"),
        ok("_ap", "n_parts").alias("parts_within_bound"),
    )


@query(
    "decimal_arithmetic",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS sum_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))
               * CAST(1 + l_tax AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS sum_charge,
           ROUND(CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS min_price,
           ROUND(CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("functions", "decimal", "scaled-integer"),
)
def decimal_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point arithmetic — the reference's flagship ScaledInteger
    type ("42x faster than f64, exact", README.md:14; types.rs:69-70),
    re-expressed through functions/scaled.py: values become i64 at a fixed
    power-of-ten scale, products run as primitive long multiplies inside
    whole-stage codegen (a DECIMAL(18,4) x DECIMAL(18,4) product has
    precision 37 and falls back to per-row JavaBigDecimal allocation —
    measured 15% slower end-to-end even on a scan-bound query), and group
    sums widen to DECIMAL(38,0) so no group size can overflow. The final
    scale-shift back is an exact decimal division, so exactly one rounding
    happens — at the explicit output cast, same as a decimal engine.

    Output is rounded to DOUBLE on both engines so the comparison is
    representation-stable (Spark emits Decimal objects, DuckDB's pandas
    bridge emits float64 — identical values hashed differently otherwise).
    Values verified identical to the pure-DecimalType formulation."""
    from velostream_spark.functions.scaled import (
        from_scaled,
        scaled_mul,
        scaled_sum,
        to_scaled,
    )

    t = tables(spark, sf_dir)
    li = t["lineitem"]
    p4 = to_scaled("l_extendedprice", 4)
    d4 = to_scaled(F.lit(1) - F.col("l_discount"), 4)
    t4 = to_scaled(F.lit(1) + F.col("l_tax"), 4)
    pd8 = scaled_mul(p4, d4)        # scale 8; |row| <= ~1e13, fits i64
    pdt12 = scaled_mul(pd8, t4)     # scale 12; |row| <= ~1.1e17, fits i64
    return li.groupBy("l_returnflag").agg(
        F.round(from_scaled(scaled_sum(p4), 4).cast("double"), 2).alias(
            "sum_price"
        ),
        F.round(from_scaled(scaled_sum(pd8), 8).cast("double"), 2).alias(
            "sum_disc_price"
        ),
        F.round(from_scaled(scaled_sum(pdt12), 12).cast("double"), 2).alias(
            "sum_charge"
        ),
        F.round(from_scaled(F.min(p4), 4).cast("double"), 2).alias("min_price"),
        F.round(from_scaled(F.max(p4), 4).cast("double"), 2).alias("max_price"),
    )


@query(
    "interval_arithmetic",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 90 MINUTE            AS ts_plus_90m,
           ts - INTERVAL 1 DAY                AS ts_minus_1d,
           CAST(ts + INTERVAL 30 SECOND AS DATE) AS d_plus_30s,
           (ts + INTERVAL 2 HOUR > TIMESTAMP '2024-01-15 00:00:00')
               AS after_mid_jan
    FROM events
    WHERE event_id % 5 = 0
    """,
    tags=("functions", "interval", "datetime"),
)
def interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL arithmetic (reference Interval FieldValue, ast.rs:790-803;
    interval units Nanosecond..Year) — Spark day-time interval literals in
    timestamp add/subtract/compare expressions."""
    t = tables(spark, sf_dir)
    ev = t["events"].where(F.col("event_id") % 5 == 0)
    return ev.select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("ts_plus_90m"),
        (F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("ts_minus_1d"),
        (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).cast("date").alias("d_plus_30s"),
        (
            (F.col("ts") + F.expr("INTERVAL 2 HOURS"))
            > F.lit("2024-01-15 00:00:00").cast("timestamp")
        ).alias("after_mid_jan"),
    )


@query(
    "cast_semantics",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(p_name AS INTEGER)                    AS bad_int,
           TRY_CAST(CAST(p_retailprice AS VARCHAR) AS DOUBLE) AS roundtrip_price,
           CAST(p_partkey AS DOUBLE)                      AS key_dbl,
           CAST(CAST(p_partkey AS VARCHAR) AS BIGINT)     AS key_roundtrip,
           TRY_CAST('true' AS BOOLEAN)                    AS t_bool,
           TRY_CAST('nope' AS BOOLEAN)                    AS bad_bool
    FROM part
    WHERE p_partkey % 7 = 0
    """,
    tags=("functions", "cast", "permissive"),
)
def cast_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST conversion rules (reference types.rs:740+, dispatched
    functions.rs:1269-1289). The reference's cast_to RAISES
    SqlError::ExecutionError on an invalid string→number cast
    (types.rs:745-750) — matching Spark's ANSI-mode CAST, which the
    dialect passes through unchanged, so bare CAST errors like the
    reference. TRY_CAST below demonstrates the permissive alternative
    (NULL on failure) locally in the expression, so the entry stays
    hash-comparable regardless of the session's ANSI mode. Divergence
    notes in tests/test_function_catalog.py::test_cast_conformance."""
    t = tables(spark, sf_dir)
    p = t["part"].where(F.col("p_partkey") % 7 == 0)
    return p.select(
        "p_partkey",
        F.expr("try_cast(p_name AS int)").alias("bad_int"),
        F.col("p_retailprice").cast("string").cast("double").alias("roundtrip_price"),
        F.col("p_partkey").cast("double").alias("key_dbl"),
        F.col("p_partkey").cast("string").cast("long").alias("key_roundtrip"),
        F.expr("try_cast('true' AS boolean)").alias("t_bool"),
        F.expr("try_cast('nope' AS boolean)").alias("bad_bool"),
    )


@query(
    "unixtime_functions",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT)                       AS epoch_s,
           strftime(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S')                          AS from_unix,
           to_timestamp(CAST(floor(epoch(ts)) AS BIGINT))::TIMESTAMP AS ts_roundtrip
    FROM events
    WHERE event_id % 9 = 0
    """,
    tags=("functions", "datetime", "unixtime"),
)
def unixtime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIX_TIMESTAMP / FROM_UNIXTIME round-trip (reference
    functions.rs:3587-3596) — second-precision epoch in UTC session time."""
    t = tables(spark, sf_dir)
    ev = t["events"].where(F.col("event_id") % 9 == 0)
    epoch = F.unix_timestamp("ts")
    return ev.select(
        "event_id",
        epoch.alias("epoch_s"),
        F.from_unixtime(epoch).alias("from_unix"),
        F.timestamp_seconds(epoch).alias("ts_roundtrip"),
    )
