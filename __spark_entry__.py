"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (filter → map → aggregation
chain, quickstart-1 semantics per
``integration/QuickstartScenario1Spec.scala:131-139``) on sf0.001.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the LLM-data-pipeline operators); ``oracle_sql()``
provides the DuckDB-equivalent SQL for every SQL-expressible one.

Determinism notes (so the value-hash compare is exact):
- Double sums are computed as exact ``decimal(18,2)`` sums cast back to
  double in BOTH engines — no float-accumulation-order drift.
- Ratio/score columns are plain IEEE expressions with identical operand
  order on both sides, so they are bit-identical without rounding.
- Window bounds are emitted as formatted UTC strings; every query
  callable pins ``spark.sql.session.timeZone=UTC`` (DuckDB timestamps
  are naive/UTC).
- Ranking queries always carry a unique-key tiebreaker in the ORDER BY.
"""

from __future__ import annotations

import os
import re
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators import dedup as dd
from etl_spark_gradle_spark.operators import multimodal as mm
from etl_spark_gradle_spark.operators import similarity as sim
from etl_spark_gradle_spark.operators import text as tx
from etl_spark_gradle_spark.operators.relational import (
    aggregate,
    analytic_columns,
    filter_rows,
    join_view,
    map_columns,
    pivot_table,
    rank_rows,
    window_aggregate,
)
from etl_spark_gradle_spark.plans.config import AggregateExpr
from etl_spark_gradle_spark.quality import (
    null_metrics_df,
    quarantine,
    read_quarantine,
    split_valid_invalid,
)

_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")


def _prep(spark: SparkSession) -> SparkSession:
    """Pin the confs the oracle compare depends on (runtime-settable):
    UTC so timestamp formatting matches DuckDB's naive timestamps, and
    ANSI off for reference-parity lenient casts (the driver's session
    may default ANSI on)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return spark


# ---------------------------------------------------------------------------
# SQL emitters for the frozen tail-probability approximations
# (operators/stats.py norm_sf / chi2_sf / f_sf / _pq). The DuckDB
# oracle must evaluate the IDENTICAL expression tree in the identical
# operand order — these emitters are the single source of that SQL, so
# a coefficient change in one engine cannot silently diverge from the
# other (the analog of the anova_f list_reduce fold contract).
# ---------------------------------------------------------------------------


def _sql_norm_sf_pos(z: str) -> str:
    """A&S 26.2.17 upper normal tail for z >= 0 (textual DuckDB form
    of stats._norm_sf_pos — same coefficients, same nesting)."""
    t = f"(1.0 / (1.0 + 0.2316419 * ({z})))"
    poly = (
        f"({t} * (0.31938153 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return f"(0.3989422804014327 * EXP(-0.5 * ({z}) * ({z})) * {poly})"


def _sql_norm_sf(z: str) -> str:
    return (
        f"(CASE WHEN ({z}) >= 0 THEN {_sql_norm_sf_pos(z)} "
        f"ELSE 1.0 - {_sql_norm_sf_pos(f'-({z})')} END)"
    )


def _sql_chi2_sf(x: str, k: str) -> str:
    """χ²(k) upper tail: exact-normal k=1, exp(-x/2) k=2,
    Wilson–Hilferty k>=3 (stats.chi2_sf)."""
    kd = f"CAST(({k}) AS DOUBLE)"
    c = f"(2.0 / (9.0 * {kd}))"
    wh_z = f"((cbrt(({x}) / {kd}) - (1.0 - {c})) / sqrt({c}))"
    return (
        f"(CASE WHEN ({k}) = 1 THEN 2.0 * {_sql_norm_sf(f'sqrt({x})')} "
        f"WHEN ({k}) = 2 THEN EXP(-0.5 * ({x})) "
        f"ELSE {_sql_norm_sf(wh_z)} END)"
    )


def _sql_f_sf(x: str, d1: str, d2: str) -> str:
    """F(d1,d2) upper tail — Paulson (stats.f_sf)."""
    a1 = f"(2.0 / (9.0 * CAST(({d1}) AS DOUBLE)))"
    a2 = f"(2.0 / (9.0 * CAST(({d2}) AS DOUBLE)))"
    num = f"((1.0 - {a2}) * cbrt({x}) - (1.0 - {a1}))"
    den = f"sqrt({a1} + cbrt({x}) * cbrt({x}) * {a2})"
    return _sql_norm_sf(f"({num} / {den})")


def _sql_pq(p: str) -> str:
    """Clamp + 9-dp quantize (stats._pq)."""
    return (
        f"(CAST(ROUND(LEAST(1.0, GREATEST(0.0, {p})) * 1e9) AS BIGINT)"
        f" / 1e9)"
    )


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.parquet has shipped with two physical encodings of ``ts``
    across testdata generations: TIMESTAMP(NANOS) (read as long via the
    nanosAsLong conf → truncate to micros, exactly what DuckDB's µs
    timestamps do) and TIMESTAMP(MICROS) isAdjustedToUTC=false (read as
    TIMESTAMP_NTZ → cast to session-tz timestamp; session is pinned UTC
    so the wall clock is preserved and matches DuckDB's naive reads).
    Normalize both to a plain TIMESTAMP column."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # harmless when ts is already TIMESTAMP(MICROS); required to read
        # TIMESTAMP(NANOS) files (Spark's vectorized reader rejects nanos)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fmt_ts(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# ---------------------------------------------------------------------------
# Relational operators (SURVEY §2.3, §2.6)
# ---------------------------------------------------------------------------


def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter: SQL predicate pushed to the parquet scan."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = filter_rows(li, "l_quantity > 45 AND l_returnflag = 'R'")
    return out.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


def q_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map: derived columns via sequential withColumn(alias, expr)."""
    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    out = map_columns(
        orders,
        [
            ("o_year", "year(o_orderdate)"),
            ("o_month", "month(o_orderdate)"),
            ("priority_up", "upper(o_orderpriority)"),
            ("price_band", "CASE WHEN o_totalprice > 100000 THEN 'high' ELSE 'low' END"),
        ],
    )
    return out.select("o_orderkey", "o_year", "o_month", "priority_up", "price_band")


def q_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregation: groupBy + 7 aggregate fns incl. count_distinct.

    Sums go through exact decimal accumulation (cast back to double) so
    Spark and DuckDB agree bit-for-bit regardless of partial-agg order.
    """
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    li = map_columns(
        li,
        [
            ("qty_dec", "CAST(l_quantity AS DECIMAL(18,2))"),
            ("price_dec", "CAST(l_extendedprice AS DECIMAL(18,2))"),
        ],
    )
    agg = aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggregateExpr("qty_dec", "sum", "sum_qty_dec"),
            AggregateExpr("price_dec", "sum", "sum_price_dec"),
            AggregateExpr("*", "count", "cnt"),
            AggregateExpr("l_quantity", "min", "min_qty"),
            AggregateExpr("l_quantity", "max", "max_qty"),
            AggregateExpr("l_partkey", "count_distinct", "distinct_parts"),
        ],
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        F.col("sum_price_dec").cast("double").alias("sum_price"),
        (F.col("sum_qty_dec").cast("double") / F.col("cnt")).alias("avg_qty"),
        F.col("cnt").cast("long").alias("cnt"),
        "min_qty",
        "max_qty",
        F.col("distinct_parts").cast("long").alias("distinct_parts"),
    )


_AGG_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join (inner) against a named temp view + selectColumns projection
    + explicit broadcast of the small dimension."""
    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("right_customer")
    return join_view(
        orders,
        spark,
        right_table="right_customer",
        left_key="o_custkey",
        right_key="c_custkey",
        join_type="inner",
        select_columns=["o_orderkey", "o_totalprice", "c_name", "c_mktsegment"],
        broadcast_right=True,
    )


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join (left outer): unmatched left rows keep NULL right columns."""
    _prep(spark)
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter("o_totalprice > 400000")
    big.createOrReplaceTempView("big_orders")
    out = join_view(
        customer,
        spark,
        right_table="big_orders",
        left_key="c_custkey",
        right_key="o_custkey",
        join_type="left",
    )
    return out.select("c_custkey", "o_orderkey", "o_totalprice")


def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join (right outer): every right-view row survives."""
    _prep(spark)
    supplier = _t(spark, sf_dir, "supplier").filter("s_acctbal > 0")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    out = join_view(
        supplier,
        spark,
        right_table="nation_v",
        left_key="s_nationkey",
        right_key="n_nationkey",
        join_type="right",
    )
    return out.select("s_suppkey", "s_name", "n_name")


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join (full outer): unmatched rows survive on both sides."""
    _prep(spark)
    low = _t(spark, sf_dir, "customer").filter("c_acctbal < 0")
    high = _t(spark, sf_dir, "orders").filter("o_totalprice > 350000")
    high.createOrReplaceTempView("high_orders")
    out = join_view(
        low,
        spark,
        right_table="high_orders",
        left_key="c_custkey",
        right_key="o_custkey",
        join_type="full",
    )
    return out.select("c_custkey", "c_acctbal", "o_orderkey", "o_totalprice")


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowing (tumbling 10 min) with extra groupBy cols (docs
    semantics, SURVEY §2.3) — exact decimal sums, UTC string bounds."""
    _prep(spark)
    ev = map_columns(
        _t(spark, sf_dir, "events"), [("value_dec", "CAST(value AS DECIMAL(18,2))")]
    )
    out = window_aggregate(
        ev,
        time_column="ts",
        window_duration="10 minutes",
        aggregations=[
            AggregateExpr("*", "count", "cnt"),
            AggregateExpr("value_dec", "sum", "sum_value_dec"),
            AggregateExpr("value", "min", "min_value"),
            AggregateExpr("value", "max", "max_value"),
        ],
        window_type="tumbling",
        group_by=["event_type"],
    )
    return out.select(
        _fmt_ts(F.col("window.start")).alias("window_start"),
        _fmt_ts(F.col("window.end")).alias("window_end"),
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_value_dec").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


_WINDOW_TUMBLING_ORACLE = """
WITH b AS (
  SELECT *, CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS bucket FROM events
)
SELECT strftime(make_timestamp(bucket * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(make_timestamp((bucket + 600) * 1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM b
GROUP BY bucket, event_type
"""


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowing (sliding 10 min / 5 min): each row lands in 2 windows."""
    _prep(spark)
    ev = map_columns(
        _t(spark, sf_dir, "events"), [("value_dec", "CAST(value AS DECIMAL(18,2))")]
    )
    out = window_aggregate(
        ev,
        time_column="ts",
        window_duration="10 minutes",
        aggregations=[
            AggregateExpr("*", "count", "cnt"),
            AggregateExpr("value_dec", "sum", "sum_value_dec"),
        ],
        window_type="sliding",
        slide_duration="5 minutes",
    )
    return out.select(
        _fmt_ts(F.col("window.start")).alias("window_start"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


_WINDOW_SLIDING_ORACLE = """
WITH b AS (
  SELECT e.*, (CAST(FLOOR(epoch(ts) / 300) AS BIGINT) - offs.k) * 300 AS start_s
  FROM events e CROSS JOIN (VALUES (0), (1)) AS offs(k)
)
SELECT strftime(make_timestamp(start_s * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM b
GROUP BY start_s
"""


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowing (session, 5 min gap) per user — the spec-promised
    extension (``specs/001-build-an-application/spec.md:125-126``)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = window_aggregate(
        ev,
        time_column="ts",
        window_duration="5 minutes",
        aggregations=[AggregateExpr("*", "count", "cnt")],
        window_type="session",
        group_by=["user_id"],
    )
    return out.select(
        "user_id",
        _fmt_ts(F.col("window.start")).alias("session_start"),
        _fmt_ts(F.col("window.end")).alias("session_end"),
        F.col("cnt").cast("long").alias("cnt"),
    )


_WINDOW_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 5 MINUTE OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM sessions
GROUP BY user_id, session_id
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: parquet readStream → watermarked 10-min
    tumbling window per event_type → availableNow drain to a parquet
    sink → read back. Append mode emits only watermark-closed windows
    (delay 0 ⇒ window_end <= max event time), which the oracle mirrors.
    """
    from etl_spark_gradle_spark import streaming as st
    from etl_spark_gradle_spark.plans.config import AggregateExpr as AE

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # streaming sources need an explicit schema — take the file's actual
    # one (ts encoding varies by testdata generation; _normalize_event_ts
    # handles both long-nanos and TIMESTAMP_NTZ)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the streaming file source requires a DIRECTORY; stage the single
    # parquet file into scratch (testdata is read-only)
    import shutil

    src_dir = os.path.join(_SCRATCH, f"stream_src_{uuid.uuid4()}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))
    stream = _normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    ).withColumn("value_dec", F.expr("CAST(value AS DECIMAL(18,2))"))
    agg = st.windowed_stream_agg(
        stream,
        time_column="ts",
        window_duration="10 minutes",
        aggregations=[AE("*", "count", "cnt"), AE("value_dec", "sum", "sum_value_dec")],
        watermark_delay="0 seconds",
        group_by=["event_type"],
    )
    out_path = os.path.join(_SCRATCH, f"stream_{uuid.uuid4()}")
    st.write_stream(
        agg.select(
            _fmt_ts(F.col("window.start")).alias("window_start"),
            "event_type",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        ),
        {
            "path": out_path,
            "checkpointLocation": os.path.join(_SCRATCH, f"ckpt_{uuid.uuid4()}"),
            "format": "parquet",
            "trigger": "availableNow",
        },
        output_mode="append",
        await_termination=True,
    )
    return spark.read.parquet(out_path)


_STREAMING_WINDOW_ORACLE = """
WITH b AS (
  SELECT *, CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS bucket FROM events
)
SELECT strftime(make_timestamp(bucket * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM b
GROUP BY bucket, event_type
HAVING make_timestamp((bucket + 600) * 1000000) <= (SELECT MAX(ts) FROM events)
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming bounded-state dedup:
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type) over the
    staged events stream, drained with availableNow. The surviving ROW
    per key depends on stream order, so the query projects the deduped
    keys only — an order-independent result the DuckDB oracle matches
    with SELECT DISTINCT. Within one availableNow batch the watermark
    hasn't advanced, so no key evicts mid-run and the output is exactly
    the distinct key set (state-eviction semantics are covered by unit
    tests in tests/test_streaming.py)."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"sdedup_src_{run}")
    out_path = os.path.join(_SCRATCH, f"sdedup_out_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))
    stream = _normalize_event_ts(spark.readStream.schema(schema).parquet(src_dir))
    deduped = st.stream_dedup(
        stream, keys=["user_id", "event_type"], time_column="ts",
        watermark_delay="10 minutes",
    ).select("user_id", "event_type")
    st.write_stream(
        deduped,
        {
            "path": out_path,
            "checkpointLocation": os.path.join(_SCRATCH, f"sdedup_ckpt_{run}"),
            "format": "parquet",
            "trigger": "availableNow",
        },
        output_mode="append",
        await_termination=True,
    )
    return spark.read.parquet(out_path)


_STREAMING_DEDUP_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with the event-time range bound that
    keeps join state finite (streaming.stream_stream_join): the events
    table split into two REAL file streams by event_id parity, joined
    on user_id where the odd event lands within [even.ts, even.ts + 5
    minutes], drained with availableNow. Inner matches emit as they
    arrive, so one drain yields exactly the relational join — which is
    what the DuckDB oracle replays (state eviction semantics are unit-
    tested in tests/test_streaming.py)."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"sjoin_src_{run}")
    out_path = os.path.join(_SCRATCH, f"sjoin_out_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))

    def side(pred):
        s = _normalize_event_ts(spark.readStream.schema(schema).parquet(src_dir))
        return s.filter(pred).select("ts", "user_id", "event_id")

    joined = st.stream_stream_join(
        side("event_id % 2 = 0"),
        side("event_id % 2 = 1"),
        left_key="user_id",
        right_key="user_id",
        left_time_col="ts",
        right_time_col="ts",
        max_delay="5 minutes",
        watermark_delay="10 minutes",
    )
    st.write_stream(
        joined.select("user_id", "event_id", "event_id_right"),
        {
            "path": out_path,
            "checkpointLocation": os.path.join(_SCRATCH, f"sjoin_ckpt_{run}"),
            "format": "parquet",
            "trigger": "availableNow",
        },
        output_mode="append",
        await_termination=True,
    )
    out = spark.read.parquet(out_path)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("l_event"),
        F.col("event_id_right").cast("long").alias("r_event"),
    )


_STREAMING_JOIN_ORACLE = """
SELECT a.user_id,
       CAST(a.event_id AS BIGINT) AS l_event,
       CAST(b.event_id AS BIGINT) AS r_event
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization of
    the events table via ``applyInPandasWithState`` (30-min gap), run
    as ONE availableNow drain whose source carries a far-future
    watermark-driver event for a sentinel user: once the data batch
    lands, the watermark jumps to 2100 and the engine's no-data batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``, default on)
    fires every real session's event-time timeout. The r12 shape ran
    TWO full streaming-query lifecycles (start/checkpoint/stop twice,
    ~2.5 s each at sf0.1) for the same rows — the second drain already
    relied on the same no-data batch to close sessions, so one drain
    is strictly equivalent. Values are summed as integer cents for
    exact cross-engine totals. Oracle: DuckDB gaps-and-islands SQL."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # file's actual schema (ts encoding varies by testdata generation)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ts_is_long = schema["ts"].dataType.simpleString() == "bigint"
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"sess_src_{run}")
    out_path = os.path.join(_SCRATCH, f"sess_out_{run}")
    ckpt = os.path.join(_SCRATCH, f"sess_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))

    # watermark-driver: one far-future event for a sentinel user (its
    # own session stays open and is filtered below). Written BEFORE the
    # drain — the initial watermark is 0, so no row in the batch is
    # late, and after the batch the watermark is 2100-01-01.
    import datetime as _dt

    flush = {
        "event_id": -1,
        # 2100-01-01, in whichever encoding the source file uses
        "ts": 4102444800_000_000_000 if ts_is_long else _dt.datetime(2100, 1, 1),
        "user_id": -1,
        "event_type": "flush",
        "value": 0.0,
        "props": "{}",
    }
    flush_df = spark.createDataFrame(
        [tuple(flush[k] for k in ("event_id", "ts", "user_id", "event_type", "value", "props"))],
        schema,
    )
    flush_df.write.mode("overwrite").parquet(os.path.join(src_dir, "flush"))
    # the streaming source lists files recursively only within the dir;
    # write the flush batch as a sibling file instead
    for f in os.listdir(os.path.join(src_dir, "flush")):
        if f.endswith(".parquet"):
            shutil.move(
                os.path.join(src_dir, "flush", f), os.path.join(src_dir, f"zz_{f}")
            )
    shutil.rmtree(os.path.join(src_dir, "flush"), ignore_errors=True)

    stream = (
        _normalize_event_ts(spark.readStream.schema(schema).parquet(src_dir))
        .withColumn("cents", F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .select("user_id", "ts", "cents")
    )
    sessions = st.sessionize_stream(
        stream,
        key_col="user_id",
        time_col="ts",
        gap_seconds=1800,
        value_col="cents",
        watermark_delay="0 seconds",
    )
    st.write_stream(
        sessions,
        {"path": out_path, "checkpointLocation": ckpt, "format": "parquet"},
        output_mode="append",
        await_termination=True,
    )
    out = spark.read.parquet(out_path).filter("user_id >= 0")
    return out.select(
        "user_id",
        _fmt_ts(F.col("session_start")).alias("session_start"),
        _fmt_ts(F.col("session_end")).alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("long").alias("sum_cents"),
    )


_SESSIONIZE_ORACLE = """
WITH d AS (
  SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, sid
"""


def q_streaming_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: heartbeat-gap detection
    (silences > 2 h between consecutive events of a user) via
    ``applyInPandasWithState``, drained availableNow. Gaps emit on the
    next arrival — no event-time timeout, so no watermark-driver event
    is needed and the batch ``lag()`` oracle replays it exactly."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"gaps_src_{run}")
    out_path = os.path.join(_SCRATCH, f"gaps_out_{run}")
    ckpt = os.path.join(_SCRATCH, f"gaps_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))

    stream = _normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    ).select("user_id", "ts")
    gaps = st.detect_gaps_stream(
        stream,
        key_col="user_id",
        time_col="ts",
        gap_seconds=7200,
        watermark_delay="0 seconds",
    )
    st.write_stream(
        gaps,
        {"path": out_path, "checkpointLocation": ckpt, "format": "parquet"},
        output_mode="append",
        await_termination=True,
    )
    out = spark.read.parquet(out_path)
    return out.select(
        "user_id",
        _fmt_ts(F.col("gap_start")).alias("gap_start"),
        _fmt_ts(F.col("gap_end")).alias("gap_end"),
        "gap_us",
    )


_STREAMING_GAPS_ORACLE = """
WITH s AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
)
SELECT user_id,
       strftime(prev, '%Y-%m-%d %H:%M:%S') AS gap_start,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
       epoch_us(ts) - epoch_us(prev) AS gap_us
FROM s
WHERE prev IS NOT NULL AND epoch_us(ts) - epoch_us(prev) > 7200000000
"""


def q_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ranking: row_number top-3 per partition; Spark ≥3.5 plans the
    top-k filter as WindowGroupLimit. Unique-key tiebreak for
    determinism."""
    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    out = rank_rows(
        orders,
        partition_by=["o_orderpriority"],
        order_by=["o_totalprice DESC", "o_orderkey"],
        rank_function="row_number",
        top_k=3,
        rank_alias="rn",
    )
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")


def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode: one row per whitespace token (narrow Generate — no
    shuffle); the token-explosion primitive of text pipelines."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 50")
    from etl_spark_gradle_spark.operators.relational import explode_column

    out = explode_column(
        docs,
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')",
        alias="token",
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "token")


def q_agg_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregation (extended functions): exact count_distinct and exact
    median alongside plain count — the distinct/percentile surface
    beyond the reference's 9 functions. (approx_count_distinct and
    stddev/variance exist too but are excluded here: HLL sketches and
    float summation order are not cross-engine bit-stable.)"""
    _prep(spark)
    customer = _t(spark, sf_dir, "customer")
    out = aggregate(
        customer,
        group_by=["c_mktsegment"],
        aggregations=[
            AggregateExpr(column="c_nationkey", function="count_distinct", alias="nations"),
            AggregateExpr(column="c_nationkey", function="median", alias="med_nation"),
            AggregateExpr(column="c_custkey", function="count", alias="n"),
        ],
    )
    return out.select(
        "c_mktsegment",
        F.col("nations").cast("long").alias("nations"),
        F.col("med_nation").cast("double").alias("med_nation"),
        F.col("n").cast("long").alias("n"),
    )


def q_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics: lag/lead/running-sum/running-count/cume_dist over one
    shared window spec — a single sort inside one
    hashpartitioning(o_custkey) exchange covers all five columns.
    Money as integer cents so running sums are bit-exact vs DuckDB;
    (o_orderdate, o_orderkey) is a total order per partition so
    lag/lead/cume_dist are deterministic."""
    _prep(spark)
    orders = _t(spark, sf_dir, "orders").withColumn(
        "cents", F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    )
    out = analytic_columns(
        orders,
        partition_by=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
        specs=[
            ("prev_cents", "lag", ["cents", "1"]),
            ("next_cents", "lead", ["cents"]),
            ("run_total", "running_sum", ["cents"]),
            ("run_orders", "running_count", ["o_orderkey"]),
            ("pct", "cume_dist", []),
        ],
    )
    return out.select(
        "o_custkey", "o_orderkey", "cents", "prev_cents", "next_cents",
        "run_total", "run_orders", "pct",
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot: long→wide with EXPLICIT pivot values (no distinct-collect
    pre-pass; static schema). Plans as the same single-shuffle
    partial+final hash aggregation as a plain groupBy."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "cents", F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    )
    return pivot_table(
        li,
        group_by=["l_returnflag"],
        pivot_column="l_linestatus",
        pivot_values=["F", "O"],
        aggregations=[AggregateExpr(column="cents", function="sum", alias="s")],
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join (left semi): customers that placed at least one big order —
    existence test, output carries left columns only."""
    _prep(spark)
    customer = _t(spark, sf_dir, "customer")
    _t(spark, sf_dir, "orders").filter("o_totalprice > 300000").createOrReplaceTempView(
        "big_orders_semi"
    )
    out = join_view(
        customer,
        spark,
        right_table="big_orders_semi",
        left_key="c_custkey",
        right_key="o_custkey",
        join_type="semi",
    )
    return out.select("c_custkey", "c_mktsegment", "c_acctbal")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join (left anti): customers with no order above the threshold —
    the corpus-subtraction primitive ('drop documents already seen')."""
    _prep(spark)
    customer = _t(spark, sf_dir, "customer")
    _t(spark, sf_dir, "orders").filter("o_totalprice > 350000").createOrReplaceTempView(
        "orders_anti"
    )
    out = join_view(
        customer,
        spark,
        right_table="orders_anti",
        left_key="c_custkey",
        right_key="o_custkey",
        join_type="anti",
    )
    return out.select("c_custkey", "c_name", "c_nationkey")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join: for each click event, the most recent purchase by the
    same user at or before the click (union-merge plan, one shuffle).
    Right side pre-deduped per (user, ts) so ties are deterministic."""
    from etl_spark_gradle_spark.operators.relational import asof_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .withColumn("purchase_ts", _fmt_ts(F.col("ts")))
    )
    purchases.createOrReplaceTempView("purchases_asof")
    out = asof_join(
        clicks,
        spark.table("purchases_asof"),
        left_key="user_id",
        right_key="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["purchase_value", "purchase_ts"],
    )
    return out.select(
        "event_id",
        "user_id",
        _fmt_ts(F.col("ts")).alias("ev_ts"),
        "purchase_value",
        "purchase_ts",
    )


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join, ``nearest`` direction: closest purchase in either
    direction, ties to backward (pandas merge_asof conventions). Same
    single-shuffle union-merge plan — two in-partition sorts, one
    Exchange. Oracle: DuckDB LEFT JOIN LATERAL ordered by absolute
    time distance."""
    from etl_spark_gradle_spark.operators.relational import asof_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .withColumn("purchase_ts", _fmt_ts(F.col("ts")))
    )
    out = asof_join(
        clicks,
        purchases,
        left_key="user_id",
        right_key="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["purchase_value", "purchase_ts"],
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        _fmt_ts(F.col("ts")).alias("ev_ts"),
        "purchase_value",
        "purchase_ts",
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range join: bin events.value into overlapping intervals derived
    from nation (binned equi-join + residual BETWEEN, never a
    nested-loop all-pairs)."""
    from etl_spark_gradle_spark.operators.relational import range_join_points

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    iv = (
        _t(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("iv_id"),
            (F.col("n_nationkey") * 18.0).alias("lo"),
            (F.col("n_nationkey") * 18.0 + 25.0).alias("hi"),
        )
    )
    joined = range_join_points(
        ev, iv, point_col="value", lower_col="lo", upper_col="hi",
        bin_size=25.0, broadcast_right=True,
    )
    return joined.groupBy("iv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup aggregation: per-(flag,status) rows + per-flag subtotals +
    grand total, NULL group keys on subtotal rows (ANSI semantics)."""
    _prep(spark)
    li = map_columns(
        _t(spark, sf_dir, "lineitem"),
        [("qty_dec", "CAST(l_quantity AS DECIMAL(18,2))")],
    )
    out = aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggregateExpr("qty_dec", "sum", "sum_qty_dec"),
            AggregateExpr("*", "count", "cnt"),
        ],
        grouping_mode="rollup",
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube aggregation: all 2^k grouping combinations in one pass."""
    _prep(spark)
    orders = map_columns(
        _t(spark, sf_dir, "orders"),
        [("price_dec", "CAST(o_totalprice AS DECIMAL(18,2))")],
    )
    out = aggregate(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            AggregateExpr("price_dec", "sum", "sum_price_dec"),
            AggregateExpr("*", "count", "cnt"),
        ],
        grouping_mode="cube",
    )
    return out.select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("sum_price_dec").cast("double").alias("sum_price"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set op: UNION (distinct) of two overlapping customer slices."""
    from etl_spark_gradle_spark.operators.relational import set_op

    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    low = cust.filter("c_acctbal < 2000").select("c_custkey", "c_mktsegment")
    cust.filter("c_acctbal > -2000").select("c_custkey", "c_mktsegment").createOrReplaceTempView(
        "cust_hi"
    )
    return set_op(low, spark, "cust_hi", op="union", distinct=True)


def q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set op: EXCEPT (distinct subtract)."""
    from etl_spark_gradle_spark.operators.relational import set_op

    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    all_keys = cust.select("c_custkey", "c_nationkey")
    cust.filter("c_acctbal < 0").select("c_custkey", "c_nationkey").createOrReplaceTempView(
        "cust_neg"
    )
    return set_op(all_keys, spark, "cust_neg", op="except")


def q_setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set op: INTERSECT (distinct common rows)."""
    from etl_spark_gradle_spark.operators.relational import set_op

    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    low = cust.filter("c_acctbal < 5000").select("c_custkey", "c_mktsegment")
    cust.filter("c_acctbal > -5000").select("c_custkey", "c_mktsegment").createOrReplaceTempView(
        "cust_hi"
    )
    return set_op(low, spark, "cust_hi", op="intersect")


_SETOP_INTERSECT_ORACLE = (
    "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 5000 "
    "INTERSECT "
    "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > -5000"
)


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort + limit: global top-20 (plans as TakeOrderedAndProject)."""
    from etl_spark_gradle_spark.operators.relational import sort_limit

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    return sort_limit(
        orders.select("o_orderkey", "o_totalprice"),
        ["o_totalprice DESC", "o_orderkey"],
        limit=20,
    )


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct projection over a column subset."""
    from etl_spark_gradle_spark.operators.relational import distinct_rows

    _prep(spark)
    return distinct_rows(_t(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"])


def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skew-tolerant two-phase aggregation — results identical to the
    plain plan (the oracle is the unsalted SQL)."""
    from etl_spark_gradle_spark.operators.relational import salted_aggregate

    _prep(spark)
    li = map_columns(
        _t(spark, sf_dir, "lineitem"),
        [("qty_dec", "CAST(l_quantity AS DECIMAL(18,2))")],
    )
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        [
            AggregateExpr("qty_dec", "sum", "sum_qty_dec"),
            AggregateExpr("*", "count", "cnt"),
            AggregateExpr("l_quantity", "min", "min_qty"),
            AggregateExpr("l_quantity", "max", "max_qty"),
        ],
        salt_buckets=8,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        F.col("cnt").cast("long").alias("cnt"),
        "min_qty",
        "max_qty",
    )


_SALTED_AGG_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-window aggregates: per event, this user's count and
    exact decimal sum over the preceding 10 minutes (RANGE frame on
    epoch seconds — one sort, one exchange for both columns)."""
    from etl_spark_gradle_spark.operators.relational import rolling_time_aggregate

    _prep(spark)
    ev = _t(spark, sf_dir, "events").withColumn(
        "val_dec", F.expr("CAST(value AS DECIMAL(18,4))")
    )
    out = rolling_time_aggregate(
        ev,
        partition_by=["user_id"],
        time_column="ts",
        window_seconds=600,
        aggregations=[
            AggregateExpr("*", "count", "trailing_events"),
            AggregateExpr("val_dec", "sum", "trailing_sum_dec"),
        ],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("trailing_events").cast("long").alias("trailing_events"),
        F.col("trailing_sum_dec").cast("double").alias("trailing_sum"),
    )


_ROLLING_TIME_ORACLE = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS trailing_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS trailing_sum
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
)
"""


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct sketch (operators/sketch.py): per-shard
    sketches rolled up with hll_union_agg, estimate checked against the
    exact distinct inside the query (within_tol must come out TRUE —
    lg_k=12 ⇒ ~1.6 % RSE, 5 % is >3σ). The oracle recomputes the exact
    count and asserts the same invariant as a literal.

    The 100-TB story: the merge path answers day→month→global distinct
    rollups from KB-sized persisted sketches with no raw re-scan."""
    from etl_spark_gradle_spark.operators import sketch as sk

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    # build at a fine grain, merge up — exercises the rollup path the
    # scale design depends on, not just a direct aggregate
    fine = sk.build_distinct_sketch(
        li, ["l_returnflag", "l_linestatus"], "l_partkey"
    )
    rolled = sk.merge_sketches(fine, ["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_distinct")
    )
    return rolled.join(exact, "l_returnflag").select(
        "l_returnflag",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("distinct_est") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= F.lit(0.05)
        ).alias("within_tol"),
    )


_SKETCH_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_tol
FROM lineitem GROUP BY l_returnflag
"""


def q_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram sketch (the quantile companion to
    the HLL sketch): build per (event_type, user_id%4), vector-add merge
    up to event_type, explode to (event_type, bin, cnt) rows. Binning is
    explicit floor arithmetic (no width_bucket) so the DuckDB oracle
    replicates the exact IEEE double ops — the merge is EXACT, so every
    bin count hash-matches. 22 bins incl. labeled under/overflow."""
    from etl_spark_gradle_spark.operators import sketch as sk

    _prep(spark)
    ev = _t(spark, sf_dir, "events").withColumn("g", F.col("user_id") % 4)
    fine = sk.build_histogram_sketch(
        ev, ["event_type", "g"], "value", lo=0.0, hi=100.0, bins=20
    )
    merged = sk.merge_histograms(fine, ["event_type"])
    return merged.select(
        "event_type", F.posexplode("hist_counts").alias("bin", "cnt")
    )


_HISTOGRAM_SKETCH_ORACLE = """
WITH types AS (SELECT DISTINCT event_type FROM events),
bins AS (SELECT unnest(range(0, 22)) AS bin),
b AS (
  SELECT event_type,
         CASE WHEN value < 0 THEN 0
              WHEN value >= 100 THEN 21
              ELSE CAST(FLOOR((value - 0.0) / 100.0 * 20) AS INT) + 1 END AS bin
  FROM events WHERE value IS NOT NULL
),
c AS (SELECT event_type, bin, COUNT(*) AS n FROM b GROUP BY event_type, bin)
SELECT t.event_type,
       CAST(bn.bin AS INT) AS bin,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS cnt
FROM types t
CROSS JOIN bins bn
LEFT JOIN c ON c.event_type = t.event_type AND c.bin = bn.bin
"""


# ---------------------------------------------------------------------------
# Scalar surface (SURVEY §2.5): JSON extraction — the Kafka-payload workhorse
# ---------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = map_columns(
        ev, [("k_value", "CAST(get_json_object(props, '$.k') AS INT)")]
    )
    return out.select("event_id", "k_value")


# ---------------------------------------------------------------------------
# Quality operators (SURVEY §2.4) — testdata has no nulls, so nulls are
# synthesized identically on both sides via NULLIF
# ---------------------------------------------------------------------------


def q_null_split_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """null-check split: return the invalid branch."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events").withColumn(
        "maybe_type", F.expr("nullif(event_type, 'click')")
    )
    _, invalid = split_valid_invalid(ev, ["maybe_type"])
    return invalid.select("event_id", "event_type")


def q_null_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """single-pass per-column null counts (one job, N columns)."""
    _prep(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("maybe_type", F.expr("nullif(event_type, 'click')"))
        .withColumn("maybe_value", F.expr("CASE WHEN value < 10 THEN NULL ELSE value END"))
    )
    return null_metrics_df(ev, ["maybe_type", "maybe_value"])


def q_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key-based duplicate metrics: shuffles only the key column
    (vs the reference's full-row distinct, DataQualityChecker.scala:87-96)."""
    _prep(spark)
    return dd.duplicate_stats(_t(spark, sf_dir, "lineitem"), ["l_orderkey"])


def q_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quarantine write + read-back with run metadata."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events").withColumn(
        "maybe_type", F.expr("nullif(event_type, 'click')")
    )
    _, invalid = split_valid_invalid(ev, ["maybe_type"])
    run_id = str(uuid.uuid4())
    path = os.path.join(_SCRATCH, f"quarantine_{run_id}")
    quarantine(invalid, path, "oracle-pipeline", run_id)
    back = read_quarantine(spark, path, pipeline_id="oracle-pipeline", run_id=run_id)
    return back.select("event_id", "event_type", "pipeline_id")


# ---------------------------------------------------------------------------
# Sources/sinks (SURVEY §2.1/§2.2): file format round-trips
# ---------------------------------------------------------------------------


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """write nation as <fmt> via the engine loader, read back via the
    engine extractor; projection keeps types stable across text formats."""
    from etl_spark_gradle_spark.plans.config import SinkConfig, SourceConfig
    from etl_spark_gradle_spark.sinks import LOADER_REGISTRY
    from etl_spark_gradle_spark.sources import EXTRACTOR_REGISTRY

    _prep(spark)
    nation = _t(spark, sf_dir, "nation")
    path = os.path.join(_SCRATCH, f"roundtrip_{fmt}_{uuid.uuid4()}")
    LOADER_REGISTRY["s3"].load(
        nation,
        SinkConfig(type="s3", options={"path": path, "format": fmt}, write_mode="overwrite"),
        run_id="rt",
    )
    opts = {"path": path, "format": fmt}
    if fmt == "csv":
        opts.update({"header": "true", "inferSchema": "true"})
    back = EXTRACTOR_REGISTRY["s3"].extract(
        SourceConfig(type="s3", options=opts), spark
    )
    return back.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


def q_roundtrip_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "parquet")


def q_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


def q_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


def q_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


def q_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip through the engine loader/extractor — Spark 4
    ships the XML datasource natively (SPARK-44265), so unlike avro
    this is a REAL write+read: nation out as <rows><row>…</row></rows>,
    back in via rowTag, oracle = the same nation projection."""
    return _roundtrip(spark, sf_dir, "xml")


def q_roundtrip_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro degradation contract: pyspark does not bundle the spark-avro
    datasource (only avro-core jars), so both the file sink and the file
    extractor must rewrap the JVM's lookup failure into a guided
    ConfigError naming the exact --packages fix — this query asserts
    that contract end-to-end for write AND read. In an environment WITH
    spark-avro on the classpath the branches flip to a real round-trip
    and emit status 'ok' (oracle then needs the one-line flip documented
    here) — parity target: extractor/S3Extractor.scala:45-65,
    loader/S3Loader.scala:27-119."""
    from etl_spark_gradle_spark.plans.config import ConfigError
    from etl_spark_gradle_spark.sinks.loaders import load_file
    from etl_spark_gradle_spark.sources.extractors import extract_file

    _prep(spark)
    nation = _t(spark, sf_dir, "nation")
    path = os.path.join(_SCRATCH, f"avro_{uuid.uuid4()}")
    opts = {"path": path, "format": "avro"}
    rows = []
    try:
        load_file(nation, opts, write_mode="overwrite")
        rows.append(("write", "ok", True))
        out = extract_file(spark, opts)
        rows.append(("read", "ok", out.count() == nation.count()))
    except ConfigError as e:
        rows.append(("write", "config_error", "spark-avro" in str(e)))
        try:
            extract_file(spark, opts)
            rows.append(("read", "ok", True))
        except ConfigError as e2:
            rows.append(("read", "config_error", "spark-avro" in str(e2)))
    return spark.createDataFrame(rows, "op string, status string, guided boolean")


_ROUNDTRIP_AVRO_ORACLE = """
SELECT 'write' AS op, 'config_error' AS status, TRUE AS guided
UNION ALL
SELECT 'read', 'config_error', TRUE
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL trained-model scoring: fit a bigram LM on the documents
    corpus (two count aggregations), score every document against it,
    and project the INTEGER evidence columns (bigram count, matched
    bigram mass, context mass, OOV count) — exact and order-independent,
    so the hash match proves tokenize → bigram join → per-doc re-agg
    end-to-end without cross-engine float-log risk. The float
    log-probability/perplexity projection over these same integers is
    pinned to a pure-Python reference in tests_llm_operators."""
    from etl_spark_gradle_spark.operators.lm import (
        score_with_bigram_lm,
        train_bigram_lm,
    )

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs, "text")
    out = score_with_bigram_lm(docs, lm, id_col="doc_id", text_col="text")
    return out.select("doc_id", "n_bigrams", "sum_c2", "sum_c1", "oov_bigrams")


_LM_SCORE_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r]+'),
                     x -> x != '') AS t
  FROM documents
), uni AS (
  SELECT u AS w, COUNT(*) AS c1 FROM (SELECT unnest(t) AS u FROM tok) GROUP BY 1
), big AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2 FROM tok, unnest(range(1, len(t))) AS r(i)
  ) GROUP BY 1, 2
), db AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM tok, unnest(range(1, len(t))) AS r(i)
), j AS (
  SELECT db.doc_id, COALESCE(big.c2, 0) AS c2, COALESCE(uni.c1, 0) AS c1
  FROM db
  LEFT JOIN big ON db.w1 = big.w1 AND db.w2 = big.w2
  LEFT JOIN uni ON db.w1 = uni.w
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(c2) AS BIGINT) AS sum_c2,
       CAST(SUM(c1) AS BIGINT) AS sum_c1,
       CAST(SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams
FROM j GROUP BY doc_id
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization of the embeddings table: integer
    outputs (sum/min/max of the quantized grid) are exact, and the
    per-vector scale rounds stably; round-half behavior agrees between
    engines (both round half away from zero), so the hash match pins the
    whole max-abs → scale → round chain."""
    from etl_spark_gradle_spark.operators.similarity import quantize_embeddings

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    q = F.col("q_embedding")
    return out.select(
        "vec_id",
        F.size(q).cast("long").alias("n_dims"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")).alias(
            "q_sum"
        ),
        F.array_min(q).cast("long").alias("q_min"),
        F.array_max(q).cast("long").alias("q_max"),
        F.round(F.col("q_scale").cast("double"), 6).alias("scale_r"),
    )


_EMBEDDING_QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
), q AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0
              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))
         END AS qe
  FROM s
)
SELECT vec_id,
       CAST(len(qe) AS BIGINT) AS n_dims,
       CAST(list_sum(qe) AS BIGINT) AS q_sum,
       CAST(list_min(qe) AS BIGINT) AS q_min,
       CAST(list_max(qe) AS BIGINT) AS q_max,
       ROUND(CAST(CAST(scale AS FLOAT) AS DOUBLE), 6) AS scale_r
FROM q
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (rolling 8-token window) duplication stats over
    the documents corpus — cross-doc flagged windows, merged span
    coverage via the fixed-width union identity (pure integers, so the
    hash match is exact by construction). Lee et al. 2022 train-set
    dedup re-expressed relationally; see dedup.duplicated_window_spans."""
    from etl_spark_gradle_spark.operators.dedup import duplicated_window_spans

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = duplicated_window_spans(docs, "doc_id", "text", window_tokens=8)
    return out.select(
        "doc_id", "n_windows", "dup_windows", "covered_tokens", "n_tokens"
    )


_SUBSTRING_DEDUP_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r]+'),
                     x -> x != '') AS t
  FROM documents
), base AS (
  SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) >= 8
), win AS (
  SELECT doc_id, n, i AS pos,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS wh
  FROM base, unnest(range(1, n - 8 + 2)) AS r(i)
), duph AS (
  SELECT wh FROM win GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
), fl AS (
  SELECT win.doc_id, win.n, win.pos FROM win JOIN duph USING (wh)
), agg AS (
  SELECT doc_id, n, list_sort(list(pos)) AS ps, COUNT(*) AS dw
  FROM fl GROUP BY doc_id, n
)
SELECT doc_id,
       CAST(n - 7 AS BIGINT) AS n_windows,
       CAST(dw AS BIGINT) AS dup_windows,
       CAST(COALESCE(list_sum(list_transform(range(1, len(ps)),
              i -> least(8, ps[i + 1] - ps[i]))), 0) + 8 AS BIGINT) AS covered_tokens,
       CAST(n AS BIGINT) AS n_tokens
FROM agg
"""


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC (operators/delta.py): synthesize previous/current
    versions of orders (previous drops keys %5==0; current drops %3==0
    and bumps o_totalprice on %11==0), then classify every key as
    insert/delete/update via the fingerprint full-outer join. The
    oracle replays the same FULL JOIN with per-column IS DISTINCT FROM
    — a hash match proves the fingerprint compare agrees with true
    value comparison on every row."""
    from etl_spark_gradle_spark.operators.delta import table_diff

    _prep(spark)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    prev = o.filter("o_orderkey % 5 != 0")
    cur = o.filter("o_orderkey % 3 != 0").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    out = table_diff(cur, prev, keys=["o_orderkey"])
    return out.select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "change_type")


_TABLE_DIFF_ORACLE = """
WITH prev AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 5 != 0
), cur AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1 ELSE o_totalprice END
           AS o_totalprice,
         o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 3 != 0
), d AS (
  SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
         CASE WHEN p.o_orderkey IS NULL THEN 'insert'
              WHEN c.o_orderkey IS NULL THEN 'delete'
              WHEN (c.o_totalprice IS DISTINCT FROM p.o_totalprice)
                OR (c.o_orderstatus IS DISTINCT FROM p.o_orderstatus)
                OR (c.o_orderpriority IS DISTINCT FROM p.o_orderpriority)
                THEN 'update'
              ELSE 'unchanged' END AS change_type
  FROM cur c FULL JOIN prev p ON c.o_orderkey = p.o_orderkey
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, change_type
FROM d WHERE change_type != 'unchanged'
"""


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable BPE (operators/bpe.py): learn 60 merges from the
    documents corpus (one word-count shuffle + bounded driver learner),
    tokenize every document, and emit the LOSSLESS invariant — the sum
    of token lengths per doc, which must equal the doc's non-whitespace
    char count, an integer DuckDB computes independently. A hash match
    proves every character of every document survived the train →
    broadcast-ranks → Arrow-tokenize round trip; token-level exactness
    (the merge table and per-word encodings) is pinned against a pure-
    Python reference implementation in tests/test_bpe.py.

    Known engine-parity constraint (same class as the model_score
    whitespace note): the UDF lowercases with Python str.lower() while
    the oracle uses DuckDB lower(); they agree on ASCII and mainstream
    Unicode but can differ on locale-special codepoints whose lowering
    changes LENGTH (e.g. U+0130 'İ' → 2 codepoints in Python). Current
    testdata text is ASCII; a testdata regeneration introducing such
    codepoints would need a length-preserving normalization pinned on
    both sides."""
    from etl_spark_gradle_spark.operators.bpe import bpe_tokenize, train_bpe

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    model = train_bpe(docs, "text", num_merges=60)
    out = bpe_tokenize(docs, "doc_id", "text", model["merges"])
    return out.select(F.col("id").alias("doc_id"), "n_chars")


_BPE_TOKENIZE_ORACLE = """
SELECT doc_id,
       CAST(length(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', '', 'g')) AS BIGINT)
         AS n_chars
FROM documents
"""


def q_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC cycle hash-verified: diff the synthetic orders
    snapshots (same construction as `table_diff`), then APPLY the
    emit='rows' change feed back onto the previous snapshot with
    apply_changes — the result must equal the current snapshot
    row-for-row, which the oracle states directly as the current-side
    definition. Proves the diff feed is a lossless replication format,
    not just a classifier."""
    from etl_spark_gradle_spark.operators.delta import apply_changes, table_diff

    _prep(spark)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    prev = o.filter("o_orderkey % 5 != 0")
    cur = o.filter("o_orderkey % 3 != 0").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    changes = table_diff(cur, prev, keys=["o_orderkey"], emit="rows")
    rebuilt = apply_changes(prev, changes, keys=["o_orderkey"])
    return rebuilt.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
        "o_orderpriority",
    )


_CDC_ROUNDTRIP_ORACLE = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1 ELSE o_totalprice END
         AS o_totalprice,
       o_orderstatus, o_orderpriority
FROM orders WHERE o_orderkey % 3 != 0
"""


def q_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-operator end-to-end DAG in ONE plan (the bench q10 shape,
    hash-checked): events filter → map → BROADCAST join nation → 30 s
    tumbling window → re-aggregate, joined with documents text_stats →
    quality filter → exact content dedup → per-bucket aggregate.
    Catches cross-stage semantics (broadcast through reused exchanges,
    window bounds feeding a second agg, dedup survivors carrying stats
    columns) that single-operator queries can't. DECIMAL sums keep both
    engines order-independent. Mirror of the reference's multi-step
    quickstart (integration/QuickstartScenario3Spec.scala:135-250)."""
    from etl_spark_gradle_spark.operators.relational import (
        filter_rows,
        map_columns,
        window_aggregate,
    )

    _prep(spark)
    ev = filter_rows(_t(spark, sf_dir, "events"), "value > 0.0")
    ev = map_columns(
        ev,
        [
            ("nat_bucket", "CAST(user_id % 25 AS INT)"),
            ("value_dec", "CAST(value AS DECIMAL(18,2))"),
        ],
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("nat_bucket"), "n_name"
    )
    ev = ev.join(F.broadcast(nation), "nat_bucket")
    win = window_aggregate(
        ev,
        time_column="ts",
        window_duration="30 seconds",
        aggregations=[
            AggregateExpr("*", "count", "cnt"),
            AggregateExpr("value_dec", "sum", "sum_value_dec"),
        ],
        window_type="tumbling",
        group_by=["nat_bucket", "n_name"],
    )
    ev_agg = win.groupBy("nat_bucket", "n_name").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum("cnt").cast("long").alias("n_events"),
        F.sum("sum_value_dec").cast("double").alias("sum_value"),
    )

    docs = tx.with_text_stats(_t(spark, sf_dir, "documents"), "text")
    docs = docs.filter("n_tokens >= 5 AND quality_score > 0.2")
    docs = dd.exact_dedup(docs, content_col="text", tiebreak_col="doc_id")
    doc_agg = (
        docs.withColumn("nat_bucket", (F.col("doc_id") % 25).cast("int"))
        .groupBy("nat_bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )
    return ev_agg.join(doc_agg, "nat_bucket").select(
        F.col("nat_bucket").cast("long").alias("nat_bucket"),
        "n_name",
        "n_windows",
        "n_events",
        "sum_value",
        "n_docs",
        "sum_tokens",
    )


def _composite_oracle() -> str:
    # function, not module-level f-string: _EN_STOP is defined further
    # down the module (next to the text_stats oracle it also feeds)
    return f"""
WITH ev AS (
  SELECT user_id % 25 AS nat_bucket,
         CAST(FLOOR(epoch(ts) / 30) * 30 AS BIGINT) AS bucket,
         CAST(value AS DECIMAL(18,2)) AS value_dec
  FROM events WHERE value > 0.0
), evw AS (
  SELECT nat_bucket, bucket, COUNT(*) AS cnt, SUM(value_dec) AS sumv
  FROM ev GROUP BY nat_bucket, bucket
), eva AS (
  SELECT nat_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(cnt) AS BIGINT) AS n_events,
         CAST(SUM(sumv) AS DOUBLE) AS sum_value
  FROM evw GROUP BY nat_bucket
), t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents
), s AS (
  SELECT doc_id, text,
         CAST(len(tk) AS BIGINT) AS n_tokens,
         CAST(GREATEST(length(text), 1) AS DOUBLE) AS safe_chars,
         CAST(GREATEST(len(tk), 1) AS DOUBLE) AS safe_tokens,
         len(list_filter(tk, x -> x IN ({_EN_STOP}))) AS stop_hits,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS punct
  FROM t
), q AS (
  SELECT doc_id, text, n_tokens,
         CAST(LEAST(n_tokens / 100.0, 1.0) * 0.5
              + (1.0 - LEAST((punct / safe_chars) * 4, 1.0)) * 0.25
              + LEAST((stop_hits / safe_tokens) * 5, 1.0) * 0.25 AS DOUBLE) AS quality_score
  FROM s
), filt AS (
  SELECT * FROM q WHERE n_tokens >= 5 AND quality_score > 0.2
), surv AS (
  SELECT MIN(doc_id) AS doc_id
  FROM filt
  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
), da AS (
  SELECT f.doc_id % 25 AS nat_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(f.n_tokens) AS BIGINT) AS sum_tokens
  FROM surv JOIN filt f ON surv.doc_id = f.doc_id
  GROUP BY f.doc_id % 25
)
SELECT eva.nat_bucket, n.n_name, eva.n_windows, eva.n_events, eva.sum_value,
       da.n_docs, da.sum_tokens
FROM eva
JOIN nation n ON eva.nat_bucket = n.n_nationkey
JOIN da ON eva.nat_bucket = da.nat_bucket
"""  # noqa: E501 (oracle SQL readability)


_NATION_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: PipelineConfig → PipelineExecutor (extract →
    filter → map → aggregation → parquet sink) → read back.
    Quickstart-1 shape (integration/QuickstartScenario1Spec.scala:113-218).
    """
    from etl_spark_gradle_spark.plans.config import (
        PerformanceConfig,
        PipelineConfig,
        SinkConfig,
        SourceConfig,
        TransformationConfig,
    )
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    _prep(spark)
    out_path = os.path.join(_SCRATCH, f"e2e_{uuid.uuid4()}")
    config = PipelineConfig(
        pipeline_id="oracle-e2e",
        source=SourceConfig(
            type="s3",
            options={"path": f"{sf_dir}/lineitem.parquet", "format": "parquet"},
        ),
        transformations=(
            TransformationConfig(type="filter", options={"condition": "l_quantity > 10"}),
            TransformationConfig(
                type="map",
                options={"expressions": "price_dec:CAST(l_extendedprice AS DECIMAL(18,2))"},
            ),
            TransformationConfig(
                type="aggregation",
                options={"groupBy": "l_returnflag"},
                aggregations=(
                    AggregateExpr("price_dec", "sum", "revenue_dec"),
                    AggregateExpr("*", "count", "cnt"),
                ),
            ),
        ),
        sink=SinkConfig(
            type="s3",
            options={"path": out_path, "format": "parquet"},
            write_mode="overwrite",
        ),
        performance=PerformanceConfig(shuffle_partitions=8),
    )
    metrics = PipelineExecutor().execute(config, spark)
    if metrics.status != "SUCCESS":
        raise RuntimeError(f"pipeline failed: {metrics.error_details}")
    back = spark.read.parquet(out_path)
    return back.select(
        "l_returnflag",
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.col("cnt").cast("long").alias("cnt"),
    )


_E2E_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup on normalized-content fingerprint, deterministic
    survivor = min doc_id."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, content_col="text", tiebreak_col="doc_id").select("doc_id")


_DEDUP_CONTENT_ORACLE = """
SELECT MIN(doc_id) AS doc_id
FROM documents
GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
"""


def q_dedup_exact_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup by key columns with tiebreak survivor."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = dd.exact_dedup(li, keys=["l_orderkey"], tiebreak_col="l_linenumber")
    return out.select("l_orderkey", "l_linenumber")


_DEDUP_KEYS_ORACLE = """
SELECT l_orderkey, MIN(l_linenumber) AS l_linenumber FROM lineitem GROUP BY l_orderkey
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: distinct 3-gram overlap of each
    corpus doc (doc_id < 300) against a benchmark set (doc_id < 50).
    Broadcast-set semi-count — the corpus is never shuffled; oracle is
    the DuckDB list_intersect over identical shingling."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = dd.contamination_check(
        docs.filter("doc_id < 300"),
        docs.filter("doc_id < 50"),
        corpus_id="doc_id",
        corpus_text="text",
        bench_text="text",
        n=3,
        min_matches=1,
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("matched").cast("long").alias("matched"),
        "contaminated",
    )


_CONTAMINATION_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents WHERE doc_id < 300
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) AS s
  FROM t
), bench AS (
  SELECT list_distinct(flatten(list(s))) AS bs FROM sh WHERE doc_id < 50
)
SELECT sh.doc_id AS id,
       CAST(len(sh.s) AS BIGINT) AS n_shingles,
       CAST(len(list_intersect(sh.s, bench.bs)) AS BIGINT) AS matched,
       len(list_intersect(sh.s, bench.bs)) >= 1 AS contaminated
FROM sh, bench
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact n-gram Jaccard pairs via shingle inverted index."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.2, use_tokens=True
    )


_NGRAM_JACCARD_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]) AS s
  FROM t
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) > 0
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
"""


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS prefix-filter Jaccard join (AllPairs/PPJoin family):
    same exact-pairs contract as ngram_jaccard (n=3, t=0.2) computed
    via a THIRD independent algorithm — candidates only from each
    doc's rarest-shingle prefix, no df cap, provably no lost pairs —
    against the same quadratic ground-truth oracle. Hash equality here
    means three routes (capped inverted index, prefix filter, SQL
    cross join) agree pair-for-pair and value-for-value."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return dd.prefix_jaccard_join(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.2,
        use_tokens=True,
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (the daily-crawl append path): the even
    doc_ids play the existing corpus — reduced to its content-hash
    store, text never re-read — and the odd doc_ids arrive as the new
    batch. Survivors = in-batch dedup, then anti-join against the
    store, with the store side never shuffled (batch hashes broadcast).
    The oracle replays both steps with the same normalized-md5."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    seen = dd.content_hash_store(old, "text")
    out = dd.exact_dedup_incremental(
        new, seen, content_col="text", tiebreak_col="doc_id"
    )
    return out.select("doc_id")


_INCREMENTAL_DEDUP_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM documents
), old AS (
  SELECT DISTINCT h FROM fp WHERE doc_id % 2 = 0
), batch AS (
  SELECT MIN(doc_id) AS doc_id, h FROM fp WHERE doc_id % 2 = 1 GROUP BY h
)
SELECT doc_id FROM batch WHERE h NOT IN (SELECT h FROM old)
"""


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates against a persisted minhash
    band store (corpus text never re-hashed, store never shuffled —
    batch band hashes broadcast into the store scan). Self-verifying
    like `minhash_lsh`: the exact cross-parity shingle-Jaccard truth is
    computed in the same plan, and on this corpus the banded family
    catches every cross pair with zero false positives, so the oracle
    asserts recall 1.0 and |candidates| = |truth| — and the pytest
    suite separately proves the incremental candidate set equals the
    cross subset of the full-batch run."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    kw = dict(n=3, num_hashes=64, bands=16)
    store = dd.minhash_band_store(old, "doc_id", "text", **kw)
    cand = dd.incremental_minhash_candidates(new, store, "doc_id", "text", **kw)
    # same device as q_minhash_lsh: both pair tables are referenced
    # twice by the summary — pin the tiny relations once (the
    # un-pinned form planned 24 scans, r12 audit)
    cand_n = cand.select(
        F.least("new_id", "old_id").alias("id_a"),
        F.greatest("new_id", "old_id").alias("id_b"),
    ).localCheckpoint(eager=True)
    truth = (
        dd.ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", n=3, threshold=0.2, use_tokens=True
        )
        .filter((F.col("id_a") % 2) != (F.col("id_b") % 2))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    found = truth.join(cand_n, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_cross"))
    f_ = found.agg(F.count(F.lit(1)).cast("long").alias("n_found_cross"))
    c = cand_n.agg(F.count(F.lit(1)).cast("long").alias("n_candidates_cross"))
    return (
        t.crossJoin(f_)
        .crossJoin(c)
        .select(
            "n_true_cross",
            "n_found_cross",
            "n_candidates_cross",
            (F.col("n_found_cross") / F.col("n_true_cross")).cast("double").alias("recall"),
        )
    )


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (operators/layout.py): every
    lineitem row's 32-bit interleave of grid-scaled (l_orderkey,
    l_partkey). The oracle replays the exact scale expression
    ((v - mn) * 65535 / (mx - mn), floor, clamp — IEEE doubles agree
    across engines on integer inputs) and the bit interleave — a hash
    match proves the clustering key a zorderBy write sorts on is
    correct on every row. Bounds come from one min/max agg (the same
    bounded driver point the operator itself uses)."""
    from etl_spark_gradle_spark.operators.layout import z_value

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    r = li.agg(
        F.min("l_orderkey").alias("a"),
        F.max("l_orderkey").alias("b"),
        F.min("l_partkey").alias("c"),
        F.max("l_partkey").alias("d"),
    ).collect()[0]
    z = z_value(
        [F.col("l_orderkey"), F.col("l_partkey")],
        [(float(r.a), float(r.b)), (float(r.c), float(r.d))],
        bits=16,
    )
    return li.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        z.alias("z"),
    )


_ZORDER_ORACLE = """
WITH b AS (
  SELECT CAST(MIN(l_orderkey) AS DOUBLE) mnx, CAST(MAX(l_orderkey) AS DOUBLE) mxx,
         CAST(MIN(l_partkey) AS DOUBLE) mny, CAST(MAX(l_partkey) AS DOUBLE) mxy
  FROM lineitem
), s AS (
  SELECT l_orderkey, l_linenumber,
    CAST(least(greatest(floor((CAST(l_orderkey AS DOUBLE) - mnx) * 65535.0 / (mxx - mnx)), 0), 65535) AS BIGINT) sx,
    CAST(least(greatest(floor((CAST(l_partkey AS DOUBLE) - mny) * 65535.0 / (mxy - mny)), 0), 65535) AS BIGINT) sy
  FROM lineitem, b
)
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(list_sum(list_transform(range(0, 16), i ->
            (((sx >> i) & 1) * (1::BIGINT << (2*i)))
          + (((sy >> i) & 1) * (1::BIGINT << (2*i + 1))))) AS BIGINT) AS z
FROM s
"""


_INCREMENTAL_MINHASH_ORACLE = f"""
WITH jp AS ({_NGRAM_JACCARD_ORACLE})
SELECT CAST(count(*) AS BIGINT) AS n_true_cross,
       CAST(count(*) AS BIGINT) AS n_found_cross,
       CAST(count(*) AS BIGINT) AS n_candidates_cross,
       CAST(1.0 AS DOUBLE) AS recall
FROM jp WHERE (id_a % 2) != (id_b % 2)
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: exact n-gram Jaccard pairs (the
    SQL-reproducible pair source) → iterative min-label propagation →
    (id, cluster). One shuffle per round, rounds = component diameter;
    the DuckDB oracle computes the same components with a recursive-CTE
    transitive closure. Bounded to a fixed doc subset so the oracle's
    all-pairs verification stays cheap at every SF (the operator itself
    is LSH-scalable; the exact pair source is the verification path)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 1000")
    pairs = dd.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.2, use_tokens=True
    )
    return dd.connected_components(pairs).select(
        F.col("id").cast("long").alias("id"), F.col("cluster").cast("long").alias("cluster")
    )


_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE jp AS ({_NGRAM_JACCARD_ORACLE.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}),
und AS (
  SELECT id_a AS a, id_b AS b FROM jp
  UNION
  SELECT id_b AS a, id_a AS b FROM jp
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b != r.a
)
SELECT CAST(a AS BIGINT) AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster
FROM reach GROUP BY a
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying MinHash-LSH: run the banded-LSH candidate
    generator AND the exact shingle-Jaccard ground truth (oracle-green
    via `ngram_jaccard`) in one plan, then emit a 1-row summary
    ``(n_true_pairs, n_true_found, n_candidate_pairs, recall)``.

    The seeded-hash family itself isn't DuckDB-reproducible, but the
    summary is: on this deterministic corpus the banded config
    (k=64, b=16, r=4) catches every true pair (all true pairs sit at
    jaccard >= 0.8 where P(miss) = (1-j^4)^16 < 3e-4) and admits no
    false positives, so the oracle asserts recall = 1.0 and
    |candidates| = |truth| — measured, not hoped: verified at sf0.01
    (25=25) and sf0.1 (256=256). The raw-candidate operator stays
    covered by pytest + the `dedup_clusters`/`ngram_jaccard` oracles."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # cand and truth are each referenced twice (the semi-join + their
    # own count); both are tiny pair tables (25/256 rows at the two
    # SFs) whose un-pinned re-references re-ran the whole LSH and
    # exact-Jaccard pipelines per count (16 scans in the executed
    # plan, r12 audit) — pin once, summary unchanged
    cand = dd.minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", n=3, num_hashes=64, bands=16
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    truth = dd.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.2, use_tokens=True
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    found = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    f_ = found.agg(F.count(F.lit(1)).cast("long").alias("n_true_found"))
    c = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
    return (
        t.crossJoin(f_)
        .crossJoin(c)
        .select(
            "n_true_pairs",
            "n_true_found",
            "n_candidate_pairs",
            (F.col("n_true_found") / F.col("n_true_pairs")).cast("double").alias("recall"),
        )
    )


_MINHASH_LSH_ORACLE = f"""
WITH jp AS ({_NGRAM_JACCARD_ORACLE})
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(count(*) AS BIGINT) AS n_true_found,
       CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       CAST(1.0 AS DOUBLE) AS recall
FROM jp
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying SimHash: the signature is a pure function of the
    distinct-token set, so any two docs with identical distinct-token
    sets MUST have Hamming distance 0 and MUST surface as candidates.
    That ground truth (token-set-equality pairs) IS SQL-expressible, so
    the 1-row summary ``(n_identical_pairs, n_found, recall)`` gets a
    DuckDB hash-match asserting recall = 1.0 — a real invariant check
    of signature determinism + the pigeonhole block-join (the raw
    candidate generator stays covered by pytest property tests)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    cand = dd.simhash_candidates(
        docs, id_col="doc_id", text_col="text", max_hamming=3
    ).select("id_a", "id_b")
    # EXACT same tokenization as dedup.simhash (lower/trim, \s+ split,
    # distinct); sort order is engine-local so only set equality matters
    key = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))),
        "\x01",  # matches the oracle's chr(1) separator
    )
    keyed = docs.select(F.col("doc_id").alias("id"), key.alias("k"))
    a, b = keyed.alias("a"), keyed.alias("b")
    truth = a.join(
        b, (F.col("a.k") == F.col("b.k")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    found = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_identical_pairs"))
    f_ = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return t.crossJoin(f_).select(
        "n_identical_pairs",
        "n_found",
        (F.col("n_found") / F.col("n_identical_pairs")).cast("double").alias("recall"),
    )


_SIMHASH_ORACLE = """
WITH k AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(trim(text)), '\\s+'))), chr(1)) AS kk
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_identical_pairs,
       CAST(count(*) AS BIGINT) AS n_found,
       CAST(1.0 AS DOUBLE) AS recall
FROM k a JOIN k b ON a.kk = b.kk AND a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document quality stats, all JVM-side expressions."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = tx.with_text_stats(docs, "text")
    return out.select(
        "doc_id",
        "n_chars_c",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
    )


_EN_STOP = ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS["en"])
_TEXT_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents
), s AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_c,
         CAST(len(tk) AS BIGINT) AS n_tokens,
         CAST(GREATEST(length(text), 1) AS DOUBLE) AS safe_chars,
         CAST(GREATEST(len(tk), 1) AS DOUBLE) AS safe_tokens,
         list_sum(list_transform(tk, x -> length(x))) AS tok_len_sum,
         len(list_filter(tk, x -> x IN ({_EN_STOP}))) AS stop_hits,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
         len(regexp_extract_all(text, '[0-9]')) AS digits
  FROM t
)
SELECT doc_id, n_chars_c, n_tokens,
       CAST(tok_len_sum / safe_tokens AS DOUBLE) AS avg_token_len,
       CAST(punct / safe_chars AS DOUBLE) AS punct_ratio,
       CAST(digits / safe_chars AS DOUBLE) AS digit_ratio,
       CAST(stop_hits / safe_tokens AS DOUBLE) AS stopword_ratio,
       CAST(LEAST(n_tokens / 100.0, 1.0) * 0.5
            + (1.0 - LEAST((punct / safe_chars) * 4, 1.0)) * 0.25
            + LEAST((stop_hits / safe_tokens) * 5, 1.0) * 0.25 AS DOUBLE) AS quality_score
FROM s
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language-ID by stopword-overlap argmax (alphabetical tiebreak)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return tx.with_language_id(docs, "text").select("doc_id", "lang_pred", "lang")


def _lang_oracle() -> str:
    langs = sorted(tx.LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_intersect(regexp_split_to_array(lower(trim(text)), '\\s+'), [{words}])) AS s_{lang}"
        )
    cases = []
    for lang in langs:
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
WITH scored AS (
  SELECT doc_id, lang, {', '.join(score_cols)} FROM documents
)
SELECT doc_id,
       CASE {' '.join(cases)} ELSE 'und' END AS lang_pred,
       lang
FROM scored
"""


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct-and-clean verification of the text-cleaning stage:
    wrap each document in HTML with a symbol-soup line and a too-short
    line (JVM-side concat), then run boilerplate-line removal + HTML
    strip. The DuckDB oracle applies the identical line filter and
    regex/entity chain (patterns chosen RE2-safe — no backreferences),
    so a hash match proves both heuristics end-to-end."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("%%% 404 %%%\n<p>"), F.col("text"), F.lit("</p>\nOK")
    )
    wrapped = docs.select(F.col("doc_id").alias("doc_id"), raw.alias("raw"))
    out = tx.with_clean_text(
        wrapped, "raw", out_col="clean_text", strip_html=True, boilerplate=True
    )
    return out.select("doc_id", "clean_text")


_CLEAN_TEXT_ORACLE = """
WITH w AS (
  SELECT doc_id,
         '%%% 404 %%%' || chr(10) || '<p>' || text || '</p>' || chr(10) || 'OK' AS raw
  FROM documents
), kept AS (
  -- line heuristics scored on the VISIBLE (tag-stripped) text, same as
  -- drop_boilerplate_lines(strip_tags_for_ratio=True); original line kept
  SELECT doc_id,
         array_to_string(list_filter(string_split(raw, chr(10)),
            ln -> length(trim(regexp_replace(ln, '(?s)<[^>]+>', ' ', 'g'))) >= 10
              AND CAST(length(regexp_replace(
                    regexp_replace(ln, '(?s)<[^>]+>', ' ', 'g'),
                    '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                  / greatest(length(regexp_replace(ln, '(?s)<[^>]+>', ' ', 'g')), 1)
                  >= 0.4), chr(10)) AS t
  FROM w
)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
    '\\s+', ' ', 'g')) AS clean_text
FROM kept
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whitespace + BPE-ish regex token counting."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("tok_ws"),
        tx.bpe_ish_token_count("text").cast("long").alias("tok_bpe"),
    )


_TOKEN_COUNTS_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok_ws,
       CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS tok_bpe
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalized-content md5 fingerprint (the exact-dedup key)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return tx.with_fingerprint(docs, "text", "fp").select("doc_id", "fp")


_FINGERPRINT_ORACLE = """
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
FROM documents
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics. The synthetic documents are
    single-line, so a 3-line text with a guaranteed repeated line is
    derived first (text, its 40-char prefix, text again) to exercise the
    line-level metrics; token metrics run on the same derived column."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "t2", F.expr("concat_ws('\n', text, substr(text, 1, 40), text)")
    )
    out = tx.with_repetition_stats(docs, "t2")
    return out.select(
        "doc_id", "line_count", "dup_line_frac", "dup_line_char_frac", "dup_word_frac"
    )


_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, concat_ws(chr(10), text, substr(text, 1, 40), text) AS t2
  FROM documents
), l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(t2, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines,
         list_filter(regexp_split_to_array(t2, '\\s+'), x -> x <> '') AS tk
  FROM t
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS line_count,
       CAST(CASE WHEN len(lines) <= 1 THEN 0.0
            ELSE 1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE)
            END AS DOUBLE) AS dup_line_frac,
       CAST(CASE WHEN list_sum(list_transform(lines, x -> length(x))) <= 0 THEN 0.0
            ELSE 1.0 - list_sum(list_transform(list_distinct(lines), x -> length(x)))
                 / CAST(list_sum(list_transform(lines, x -> length(x))) AS DOUBLE)
            END AS DOUBLE) AS dup_line_char_frac,
       CAST(CASE WHEN len(tk) <= 0 THEN 0.0
            ELSE 1.0 - len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE)
            END AS DOUBLE) AS dup_word_frac
FROM l
"""


def q_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most-frequent-bigram coverage (keyword-stuffing / templated-text
    filter): exploded n-grams, two hash aggregations keyed by doc_id."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = tx.top_ngram_coverage(docs, "doc_id", "text", n=2)
    return out.select("doc_id", "top_ngram_count", "top_ngram_frac")


_TOP_BIGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS tk
  FROM documents
), g AS (
  SELECT doc_id, len(tk) AS nt,
         unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
  FROM t
), c AS (
  SELECT doc_id, nt, gram, count(*) AS cnt FROM g GROUP BY doc_id, nt, gram
), m AS (
  SELECT doc_id, nt, max(cnt) AS mc FROM c GROUP BY doc_id, nt
)
SELECT d.doc_id,
       CAST(coalesce(m.mc, 0) AS BIGINT) AS top_ngram_count,
       CAST(coalesce(LEAST(m.mc * 2 / CAST(m.nt AS DOUBLE), 1.0), 0.0) AS DOUBLE)
         AS top_ngram_frac
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
"""

# the synthetic corpus carries no real PII, so a deterministic PII tail is
# appended per-row (same expression in both engines); detection counts and
# the md5 of the redacted text are then compared bit-for-bit
_PII_TAIL = (
    "' contact doc' || CAST(doc_id AS {str_t}) || '@example.com from 10.0.' "
    "|| CAST(doc_id % 256 AS {str_t}) || '.7 call +1 (555) 123-4567'"
)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection counts + redacted-text fingerprint, all JVM-side
    regexes (engine-portable: no lookaround/backreferences)."""
    from etl_spark_gradle_spark.operators import pii

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "pii_text", F.expr("text || " + _PII_TAIL.format(str_t="STRING"))
    )
    out = pii.with_pii_counts(docs, "pii_text")
    out = pii.redact_pii(out, "pii_text", "red")
    return out.select(
        "doc_id",
        "pii_email",
        "pii_ipv4",
        "pii_phone",
        "pii_total",
        F.md5("red").alias("red_md5"),
    )


def _pii_oracle() -> str:
    from etl_spark_gradle_spark.operators.pii import PII_PATTERNS

    tail = _PII_TAIL.format(str_t="VARCHAR")
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(pii_text, '{p}')) AS BIGINT) AS pii_{k}"
        for k, p in PII_PATTERNS.items()
    )
    red = "pii_text"
    for k, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '<{k.upper()}>', 'g')"
    return f"""
WITH t AS (
  SELECT doc_id, text || {tail} AS pii_text FROM documents
), c AS (
  SELECT doc_id, {counts}, md5({red}) AS red_md5 FROM t
)
SELECT doc_id, pii_email, pii_ipv4, pii_phone,
       pii_email + pii_ipv4 + pii_phone AS pii_total, red_md5
FROM c
"""


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic md5-threshold train/val/test assignment."""
    from etl_spark_gradle_spark.operators.relational import hash_split

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", _SPLITS).select("doc_id", "split")


def _hash_split_oracle() -> str:
    total = sum(w for _, w in _SPLITS)
    cases, cum = [], 0.0
    for name, weight in _SPLITS[:-1]:
        cum += weight / total
        threshold = format(min(int(cum * 16**8), 16**8 - 1), "08x")
        cases.append(
            f"WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{threshold}' "
            f"THEN '{name}'"
        )
    return f"""
SELECT doc_id, CASE {' '.join(cases)} ELSE '{_SPLITS[-1][0]}' END AS split
FROM documents
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-token-budget chunking with overlap: narrow expressions +
    one posexplode, no shuffle."""
    from etl_spark_gradle_spark.operators.corpus import chunk_documents

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=16, overlap=4)


_CHUNK_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) > 0
), u AS (
  SELECT doc_id, tk, unnest(range(1, greatest(nt - 4, 1) + 1, 12)) AS st FROM s
)
SELECT doc_id,
       CAST((st - 1) // 12 AS INT) AS chunk_idx,
       array_to_string(list_slice(tk, st, st + 15), ' ') AS chunk_text,
       CAST(len(list_slice(tk, st, st + 15)) AS BIGINT) AS chunk_tokens
FROM u
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-split packing, sharded windows (8 shards):
    each doc -> (shard, sequence, offset) at a 64-token budget."""
    from etl_spark_gradle_spark.operators.corpus import pack_sequences
    from etl_spark_gradle_spark.operators.text import token_count

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("bigint").alias("nt")
    )
    out = pack_sequences(docs, "doc_id", "nt", max_tokens=64, shards=8)
    return out.select("doc_id", "pack_shard", "pack_seq", "pack_offset")


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS nt,
         doc_id % 8 AS pack_shard
  FROM documents
), c AS (
  SELECT doc_id, pack_shard,
         SUM(nt) OVER (PARTITION BY pack_shard ORDER BY doc_id) - nt AS st
  FROM t
)
SELECT doc_id, CAST(pack_shard AS BIGINT) AS pack_shard,
       CAST(FLOOR(st / 64.0) AS BIGINT) AS pack_seq,
       CAST(st % 64 AS BIGINT) AS pack_offset
FROM c
"""


def q_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus-wide vocabulary: explode + two-phase count, deterministic
    top-50 (freq desc, token asc)."""
    from etl_spark_gradle_spark.operators.corpus import token_frequency

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return token_frequency(docs, "text", min_count=2, top_k=50)


_TOKEN_FREQUENCY_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
         AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token
HAVING count(*) >= 2 ORDER BY freq DESC, token LIMIT 50
"""

_MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.1}
_MIX_DEFAULT = 0.25


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic corpus mixing: per-source md5-threshold keep
    fractions — pure Catalyst scan predicate, engine-stable."""
    from etl_spark_gradle_spark.operators.corpus import hash_sample

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = hash_sample(
        docs,
        "doc_id",
        fractions=_MIX_FRACTIONS,
        strata_col="source",
        default_fraction=_MIX_DEFAULT,
    )
    return out.select("doc_id", "source")


def _hash_sample_oracle() -> str:
    def th(f: float) -> str:
        return "g" if f >= 1.0 else format(int(f * 16**8), "08x")

    cases = " ".join(
        f"WHEN source = '{v}' THEN '{th(f)}'"
        for v, f in sorted(_MIX_FRACTIONS.items())
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE {cases} ELSE '{th(_MIX_DEFAULT)}' END
"""


def q_schema_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct-and-align verification of the schema-drift gate: build
    a drifted customer batch (key cast to string, an extra column, a
    target column missing), conform it with schema_align, and let the
    oracle state the aligned result directly — string→long cast
    round-trips exactly on integer keys, the extra column vanishes, the
    missing nullable column arrives as typed NULL, in target order."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_spark_gradle_spark.quality import schema_align

    _prep(spark)
    c = _t(spark, sf_dir, "customer")
    drifted = c.select(
        F.col("c_custkey").cast("string").alias("c_custkey"),
        F.lit(1).alias("junk"),
        "c_name",
    )
    target = StructType(
        [
            StructField("c_custkey", LongType(), nullable=False),
            StructField("c_name", StringType(), nullable=True),
            StructField("c_comment", StringType(), nullable=True),
        ]
    )
    return schema_align(drifted, target)


_SCHEMA_ALIGN_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       c_name,
       CAST(NULL AS VARCHAR) AS c_comment
FROM customer
"""


def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct-and-flatten verification of nested-struct
    normalization: build two-level structs from orders columns JVM-side,
    run flatten_structs, and let the oracle select the same values under
    the flattened names directly — a hash match proves every nested
    field lands under the right flat column with no loss or shadowing."""
    from etl_spark_gradle_spark.operators.relational import flatten_structs

    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("prio"),
            ).alias("inner"),
        ).alias("meta"),
        F.struct(F.col("o_custkey").alias("k")).alias("extra"),
    )
    return flatten_structs(nested)


_FLATTEN_ORACLE = """
SELECT o_orderkey,
       o_totalprice AS meta_price,
       o_orderstatus AS meta_inner_status,
       o_orderpriority AS meta_inner_prio,
       o_custkey AS extra_k
FROM orders
"""


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile quality gate (relational.quantile_filter): keep
    lineitem rows whose extendedprice sits in the [p10, p90] band. The
    thresholds use EXACT interpolated percentiles — Spark's
    `percentile` and DuckDB's `quantile_cont` share the sort-based
    definition bit-for-bit (verified), so the oracle recomputes the
    same band and the row sets match by hash."""
    from etl_spark_gradle_spark.operators.relational import quantile_filter

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return quantile_filter(li, "l_extendedprice", 0.1, 0.9)


_QUANTILE_FILTER_ORACLE = """
WITH b AS (
  SELECT quantile_cont(l_extendedprice, 0.1) AS lo,
         quantile_cont(l_extendedprice, 0.9) AS hi
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem, b
WHERE l_extendedprice >= lo AND l_extendedprice <= hi
"""


# ONE dialect-shared statement: the Spark `type: sql` step executes it
# against the registered input view, and the SAME string IS the DuckDB
# oracle — the strongest possible parity check for the SQL escape
# hatch. DECIMAL sums keep both engines order-independent.
_SQL_STEP_STATEMENT = """
WITH flagged AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM {table} WHERE l_quantity < 50
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS DOUBLE) AS sum_qty,
       CAST(SUM(price) AS DOUBLE) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM flagged GROUP BY l_returnflag, l_linestatus
"""


def q_sql_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`type: sql` escape hatch: a CTE + aggregate statement executed
    through sql_transform over the registered input view. The oracle is
    the IDENTICAL SQL string pointed at the DuckDB lineitem view —
    character-for-character dialect parity."""
    from etl_spark_gradle_spark.operators.relational import sql_transform

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return sql_transform(
        li, spark, _SQL_STEP_STATEMENT.format(table="sql_step_input"),
        input_view="sql_step_input",
    )


def q_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture solver (corpus.mix_to_target): resample sources
    src0/src1/src2 to a 50/25/25 target with maximal retention — the
    binding group keeps rate 1.0, the others exactly enough. The oracle
    recomputes the whole solve in SQL (group counts → N = min(n/t) →
    r = t*N/n → md5 threshold); targets are exact binary fractions so
    every intermediate double is reproduced bit-for-bit."""
    from etl_spark_gradle_spark.operators.corpus import mix_to_target

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = mix_to_target(
        docs, "source", {"src0": 0.5, "src1": 0.25, "src2": 0.25}, key_col="doc_id"
    )
    return out.select("doc_id", "source")


_MIX_ORACLE = """
WITH c AS (
  SELECT source AS g, CAST(COUNT(*) AS DOUBLE) AS n
  FROM documents WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
), t AS (
  SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)) v(g, tt)
), j AS (
  SELECT t.g, t.tt, c.n FROM t JOIN c ON t.g = c.g
), nm AS (
  SELECT MIN(n / tt) AS nmax FROM j
), th AS (
  SELECT g,
         CASE WHEN least(1.0, tt * nmax / n) >= 1.0 THEN 'g'
              ELSE printf('%08x', CAST(trunc(least(1.0, tt * nmax / n) * 4294967296) AS BIGINT))
         END AS thr
  FROM j, nm
)
SELECT d.doc_id, d.source
FROM documents d JOIN th ON d.source = th.g
WHERE substr(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th.thr
"""


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct-and-parse verification of URL feature extraction:
    build URLs with known scheme/domain/tld/path-depth from table
    columns (JVM-side concat/repeat), decompose with the RE2-safe regex
    chain, and let the oracle run the SAME expressions in DuckDB."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(F.lit("http"))
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        F.col("source"),
        F.lit(".example."),
        tld,
        F.repeat(F.lit("/seg"), (F.col("doc_id") % 4).cast("int")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?q=1")).otherwise(F.lit("")),
    )
    out = tx.with_url_features(docs.withColumn("url", url), "url")
    return out.select(
        "doc_id",
        "url_domain",
        "url_tld",
        F.col("url_path_depth").cast("long").alias("url_path_depth"),
        "url_is_https",
    )


_URL_FEATURES_ORACLE = """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' || source || '.example.' ||
         (CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) ||
         repeat('/seg', CAST(doc_id % 4 AS INT)) ||
         (CASE WHEN doc_id % 5 = 0 THEN '?q=1' ELSE '' END) AS url
  FROM documents
), d AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '(?i)^https?://([^/:?#]+)', 1)) AS url_domain
  FROM u
)
SELECT doc_id,
       url_domain,
       regexp_extract(url_domain, '\\.([a-z0-9-]+)$', 1) AS url_tld,
       CAST(len(list_filter(string_split(
             regexp_extract(url, '(?i)^https?://[^/?#]+(/[^?#]*)', 1), '/'),
             x -> x != '')) AS BIGINT) AS url_path_depth,
       lower(substr(url, 1, 6)) = 'https:' AS url_is_https
FROM d
"""


def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (crawl balancing: at most N docs per
    domain/source), survivors chosen by md5 content-hash rank so the
    cut is deterministic and the DuckDB oracle reproduces it exactly
    with the same ROW_NUMBER over the same md5 ordering."""
    from etl_spark_gradle_spark.operators.corpus import cap_per_group

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = cap_per_group(docs, ["source"], max_rows=15, order_col="doc_id")
    return out.select("doc_id", "source")


_CAP_PER_GROUP_ORACLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)) ASC,
                    CAST(doc_id AS VARCHAR) ASC
         ) AS rn
  FROM documents
) WHERE rn <= 15
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: similarity search
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force exact cosine top-k (query side broadcast, corpus
    never shuffled). Similarity emitted rounded to 6 decimals; ranks are
    computed on exact values with id tiebreak."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_sim"), 6).alias("cos_sim_r"),
        F.col("rank").cast("long").alias("rank"),
    )


_COSINE_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id,
         c.vec_id AS neighbor_id,
         list_reduce(list_transform(range(1, len(q.qv) + 1),
                     i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                     (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
              * sqrt(list_reduce(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)))
           AS cos_sim
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 6) AS cos_sim_r, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def _ann_recall_summary(
    spark: SparkSession, sf_dir: str, approx_fn, recall_floor: float
) -> DataFrame:
    """Shared self-verifying ANN harness: run the approximate top-k AND
    the exact brute-force top-k in one plan, emit a 1-row summary
    ``(n_queries, n_true_pairs, recall_ok)``. The raw recall value is
    data-dependent (not SQL-predictable), but the floor invariant IS —
    measured: tuned LSH 1.0 / IVF nprobe=8 0.73-0.76 at both sf0.01 and
    sf0.1, deterministic hyperplanes/centroids — so the oracle asserts
    the boolean and the pair counts."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # both top-k tables (<= 100 rows) are referenced twice by the
    # summary (semi-join + own count) — pin so the brute-force and
    # approximate pipelines run once each (14 scans / 20 exchanges
    # un-pinned, r12 audit)
    true = (
        sim.brute_force_topk(emb, queries, k=10)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    approx = (
        approx_fn(emb, queries)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    found = true.join(approx, ["query_id", "neighbor_id"], "left_semi")
    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    nt = true.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    nf = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return (
        nq.crossJoin(nt)
        .crossJoin(nf)
        .select(
            "n_queries",
            "n_true_pairs",
            (
                F.col("n_found").cast("double") / F.col("n_true_pairs")
                >= F.lit(recall_floor)
            ).alias("recall_ok"),
        )
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying hyperplane-LSH ANN: recall@10 vs in-plan brute
    force, tuned b=16/r=2 config (measured recall 1.0 at sf0.01 and
    sf0.1); oracle asserts the 0.9 floor plus exact pair counts."""
    return _ann_recall_summary(
        spark,
        sf_dir,
        lambda emb, q: sim.lsh_bucketed_topk(
            emb, q, k=10, dim=64, num_bits=32, bands=16
        ),
        recall_floor=0.9,
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying IVF cell-probe ANN: recall@10 vs in-plan brute
    force at nprobe=8/16 cells (measured 0.73-0.76 at both SFs —
    probing half the cells of an unclustered corpus); oracle asserts
    the 0.6 floor plus exact pair counts."""
    return _ann_recall_summary(
        spark,
        sf_dir,
        lambda emb, q: sim.ivf_topk(emb, q, k=10, num_cells=16, nprobe=8),
        recall_floor=0.6,
    )


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with spherical-k-means-refined centroids
    (train_ivf_centroids, 3 Lloyd's iterations — one broadcast-assign
    scan + one partial-agged (cell,dim) shuffle each): recall@10 rises
    to 0.79 at both SFs vs 0.73-0.76 sampled-init (measured; the
    synthetic embeddings are weakly clustered — on genuinely clustered
    corpora the gap is larger, see the clustered-data unit test where
    1-probe trained recall is ~1.0). Oracle asserts a 0.7 floor plus
    exact pair counts."""
    return _ann_recall_summary(
        spark,
        sf_dir,
        lambda emb, q: sim.ivf_topk(
            emb, q, k=10, num_cells=16, nprobe=8, train_iterations=3
        ),
        recall_floor=0.7,
    )


_ANN_SUMMARY_ORACLE = """
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT) AS n_queries,
       CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) * 10 AS BIGINT) AS n_true_pairs,
       TRUE AS recall_ok
"""


def q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-duplicate pairs (exact baseline; the LSH
    variant is the scale path, verified in tests). Threshold 0.4 because
    the synthetic embeddings have no true near-dups (max pairwise cosine
    ~0.51) — the operator semantics are threshold-independent."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.embedding_cosine_pairs_exact(emb, threshold=0.4)
    return out.select("id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim_r"))


_EMBEDDING_DUPS_ORACLE = """
WITH scored AS (
  SELECT a.vec_id AS id_a,
         b.vec_id AS id_b,
         list_reduce(list_transform(range(1, len(a.embedding) + 1),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                     (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))
              * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)))
           AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos_sim, 6) AS cos_sim_r
FROM scored WHERE cos_sim >= 0.4
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: multimodal columns
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload + typed metadata struct, all JVM-side."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    out = mm.with_media_metadata(docs, "payload", "media_meta")
    return out.select(
        "doc_id",
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.sha256").alias("sha256"),
        F.col("media_meta.format").alias("format"),
    )


_MULTIMODAL_META_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS sha256,
       'unknown' AS format
FROM documents
"""


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end-to-end verifiable: construct valid
    PNG (even doc_id) / JPEG (odd doc_id) headers JVM-side with
    dimensions derived from table columns (unhex/concat — Catalyst,
    deterministic), then parse them back with the pure-Python header
    reader inside the Arrow `mapInPandas` stage. The oracle predicts
    (width, height, channels, format) from the same column arithmetic,
    so a hash-match proves the parser reads true dims — no imaging
    library involved, no stub."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    w = (F.col("n_chars") % 500 + 16).cast("int")
    h = (F.col("doc_id") % 300 + 16).cast("int")
    # PNG: signature + IHDR(len=13) with BE u32 dims, bit depth 8,
    # colour type 6 (RGBA -> 4 channels)
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
            F.lit("0806000000"),
        )
    )
    # JPEG: SOI + APP0(JFIF) + SOF0(len=0x11: precision 8, BE u16
    # height then width, 3 components) + EOI
    jpeg = F.unhex(
        F.concat(
            F.lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
            F.lpad(F.hex(h), 4, "0"),
            F.lpad(F.hex(w), 4, "0"),
            F.lit("03012200021101031101FFD9"),
        )
    )
    payload = F.when(F.col("doc_id") % 2 == 0, png).otherwise(jpeg)
    media = docs.select(F.col("doc_id").alias("id"), payload.alias("content"))
    out = mm.decode_images(media, id_col="id", binary_col="content")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "decode_status",
    )


_IMAGE_DECODE_ORACLE = """
SELECT doc_id,
       CAST(n_chars % 500 + 16 AS BIGINT) AS width,
       CAST(doc_id % 300 + 16 AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT) AS channels,
       CASE WHEN doc_id % 2 = 0 THEN 'ok:png' ELSE 'ok:jpeg' END AS decode_status
FROM documents
"""


def _le_hex(col, nbytes: int):
    """Little-endian hex of a non-negative int column, ``nbytes`` wide —
    byte-swaps the big-endian ``hex()`` so binary headers with LE fields
    (RIFF/WAV) can be built with pure Catalyst concat/unhex."""
    be = F.lpad(F.hex(col), nbytes * 2, "0")
    return F.concat(*[F.substring(be, (nbytes - 1 - i) * 2 + 1, 2) for i in range(nbytes)])


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end-to-end verifiable (same pattern as
    `image_decode`): construct valid RIFF/WAVE headers JVM-side with
    little-endian fmt/data fields derived from table columns, parse
    them back with the pure-Python RIFF chunk walker inside the Arrow
    `mapInPandas` stage, and let the oracle predict (sample_rate,
    channels, bits, duration) from the same column arithmetic."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    sample_rate = (F.lit(8000) + (F.col("doc_id") % 5) * 8000).cast("int")
    channels = (F.col("doc_id") % 2 + 1).cast("int")
    data_len = ((F.col("n_chars") % 1000 + 100) * 4).cast("int")
    byte_rate = (sample_rate * channels * 2).cast("int")
    block_align = (channels * 2).cast("int")
    wav = F.unhex(
        F.concat(
            F.lit("52494646"),                      # "RIFF"
            _le_hex(data_len + 36, 4),              # riff size
            F.lit("57415645"),                      # "WAVE"
            F.lit("666D7420"), F.lit("10000000"),   # "fmt ", len 16 LE
            F.lit("0100"),                          # PCM
            _le_hex(channels, 2),
            _le_hex(sample_rate, 4),
            _le_hex(byte_rate, 4),
            _le_hex(block_align, 2),
            F.lit("1000"),                          # 16 bits/sample LE
            F.lit("64617461"),                      # "data"
            _le_hex(data_len, 4),
            # header-only payload: the parser reads chunk lengths, not
            # sample bytes, exactly like a footer/metadata scan at scale
        )
    )
    media = docs.select(F.col("doc_id").alias("id"), wav.alias("content"))
    out = mm.decode_audio(media, id_col="id", binary_col="content")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        F.col("bits_per_sample").cast("long").alias("bits_per_sample"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        "decode_status",
    )


_AUDIO_DECODE_ORACLE = """
WITH p AS (
  SELECT doc_id,
         8000 + (doc_id % 5) * 8000 AS sample_rate,
         1 + doc_id % 2 AS channels,
         (n_chars % 1000 + 100) * 4 AS data_len
  FROM documents
)
SELECT doc_id,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(channels AS BIGINT) AS channels,
       CAST(16 AS BIGINT) AS bits_per_sample,
       CAST((data_len * 1000) // (sample_rate * channels * 2) AS BIGINT) AS duration_ms,
       'ok:wav' AS decode_status
FROM p
"""


def _synth_solid_png(docs: DataFrame) -> DataFrame:
    """Verification scaffolding: one VALID solid-color PNG per document,
    size and color derived from doc_id arithmetic (so the DuckDB oracle
    can predict every decoded value). Built with the same pure-stdlib
    encoder the codec tests exercise; the operator under test never sees
    the construction — it receives opaque binary payloads."""
    import numpy as np
    import pandas as pd

    from etl_spark_gradle_spark.operators import media_codecs as mc

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w0, h0 = did % 13 + 3, did % 7 + 2
                color = np.array(
                    [did % 256, (did * 7) % 256, (did * 13) % 256], dtype=np.uint8
                )
                payloads.append(
                    mc.png_encode(np.broadcast_to(color, (h0, w0, 3)))
                )
            yield pd.DataFrame(
                {"id": pdf["doc_id"].astype("int64"), "content": payloads}
            )

    return docs.select("doc_id").mapInPandas(gen, "id long, content binary")


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize, end-to-end verifiable: synthesize valid solid-color
    PNGs (doc_id-derived dims/colors), run the full decode → nearest
    resize → raw-RGB888 pipeline, and project byte-level outputs the
    oracle predicts exactly — output length and the first pixel's hex
    triplet. A hash match proves zlib inflate, scanline unfilter, the
    resize convention, and the RGB buffer layout all ran for real."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = mm.resize_images(_synth_solid_png(docs), target_width=5, target_height=4)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "resize_status",
        F.length("resized").cast("long").alias("out_len"),
        F.upper(F.hex(F.substring(F.col("resized"), 1, 3))).alias("px0"),
    )


_IMAGE_RESIZE_ORACLE = """
SELECT doc_id,
       CAST(5 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       'ok:png' AS resize_status,
       CAST(60 AS BIGINT) AS out_len,
       printf('%02X%02X%02X', doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256) AS px0
FROM documents
"""


def q_embed_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL feature extraction, end-to-end verifiable: solid-color PNGs
    → pixel decode → channel-mean + grayscale-grid descriptor. The
    oracle recovers the constructed color by scaling the emitted floats
    back to integers (round(mean*255) is exact for a constant image far
    beyond float32 error), proving the features come from true decoded
    pixels, not a hash stub."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = mm.embed_media(_synth_solid_png(docs), dim=8)
    e = F.col("embedding")
    return out.select(
        F.col("id").alias("doc_id"),
        "embed_status",
        F.round(F.element_at(e, 1) * 255).cast("long").alias("mean_r"),
        F.round(F.element_at(e, 2) * 255).cast("long").alias("mean_g"),
        F.round(F.element_at(e, 3) * 255).cast("long").alias("mean_b"),
        F.round(F.element_at(e, 4) * 765).cast("long").alias("gray_sum"),
        F.size(e).cast("long").alias("dim"),
    )


_EMBED_MEDIA_ORACLE = """
SELECT doc_id,
       'ok:png' AS embed_status,
       CAST(doc_id % 256 AS BIGINT) AS mean_r,
       CAST((doc_id * 7) % 256 AS BIGINT) AS mean_g,
       CAST((doc_id * 13) % 256 AS BIGINT) AS mean_b,
       CAST(doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256 AS BIGINT) AS gray_sum,
       CAST(8 AS BIGINT) AS dim
FROM documents
"""


def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring PLUMBING verified end-to-end: inject a scorer whose
    math is SQL-reproducible (token count / char count) so the oracle
    hash-checks the whole Arrow path — batch slicing, id alignment,
    score typing. The default stub core stays unit-tested; a real
    classifier plugs into the same hook."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")

    # Explicit ASCII whitespace class, NOT str.split(): Python treats
    # Unicode whitespace (NBSP, U+0085, U+001C-1F) as separators while
    # the oracle's RE2 '\s' is exactly [ \t\n\f\r] — str.split() would
    # hash-match only while the testdata happens to be ASCII (ADVICE r3).
    _ws = re.compile(r"[ \t\n\f\r]+")

    def scorer(texts):
        return [
            (len([t for t in _ws.split(s or "") if t]) / max(len(s or ""), 1))
            for s in texts
        ]

    out = tx.score_with_model(docs, "doc_id", "text", scorer=scorer)
    # no rounding: both engines divide the same two integers, so the
    # IEEE doubles are bit-identical
    return out.select(
        F.col("id").alias("doc_id"), "model_score", "score_status"
    )


_MODEL_SCORE_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
            AS DOUBLE) / greatest(length(text), 1) AS model_score,
       'ok' AS score_status
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, end-to-end verifiable: synthesize
    valid Y4M (YUV4MPEG2) streams with doc_id-derived frame rate and
    frame count, then demux them with the real container parser. The
    oracle reproduces the documented sampling convention (index step
    ``max(1, every_ms*fps//1000)``, integer-ms timestamps) from the same
    arithmetic — a hash match proves header parse, FRAME-marker walk,
    and timestamp math."""
    import pandas as pd

    from etl_spark_gradle_spark.operators import media_codecs as mc

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                fps = (10, 25, 50)[did % 3]
                n_frames = did % 6 + 1
                payloads.append(mc.y4m_encode(4, 4, n_frames, fps_num=fps))
            yield pd.DataFrame(
                {"id": pdf["doc_id"].astype("int64"), "content": payloads}
            )

    media = docs.select("doc_id").mapInPandas(gen, "id long, content binary")
    out = mm.sample_frames(media, every_ms=100, max_frames=3)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
        "frame_status",
    )


_FRAME_SAMPLE_ORACLE = """
WITH p AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 10 WHEN 1 THEN 25 ELSE 50 END AS fps,
         doc_id % 6 + 1 AS nf
  FROM documents
), s AS (
  SELECT doc_id, fps, nf, unnest(range(0, 3)) AS k FROM p
)
SELECT doc_id,
       CAST(k * greatest(100 * fps // 1000, 1) AS BIGINT) AS frame_idx,
       CAST(k * greatest(100 * fps // 1000, 1) * 1000 // fps AS BIGINT) AS frame_ts_ms,
       'ok:y4m' AS frame_status
FROM s
WHERE k * greatest(100 * fps // 1000, 1) < nf
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: filter → map →
    aggregation chain (quickstart-1 semantics)."""
    return q_aggregation(_prep(spark), "/root/testdata/sf0.001")


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS — the cheaper-than-cube multi-level
    aggregate: Expand replicates each row once per LISTED set (3 here)
    instead of once per subset (4 for the 2-column cube)."""
    from etl_spark_gradle_spark.operators.relational import aggregate as _agg

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    li = map_columns(li, [("qty_dec", "CAST(l_quantity AS DECIMAL(18,2))")])
    out = _agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggregateExpr("qty_dec", "sum", "sum_qty_dec"),
            AggregateExpr("*", "count", "cnt"),
        ],
        grouping_mode="grouping_sets",
        grouping_sets=[["l_returnflag"], ["l_linestatus"], []],
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "cnt",
    )


_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch, relational form (cells as rows, md5
    hash flavor so DuckDB replicates every cell): build over lineitem
    part keys at width 512 (2k distinct keys → real collisions), then
    point-query the top-15 true keys. Emits (key, true_cnt, cms_count)
    — the oracle recomputes the identical sketch and estimates, so the
    value-hash checks both the never-undercount guarantee AND the
    exact collision pattern."""
    from etl_spark_gradle_spark.operators import sketch as _sk

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    cms = _sk.build_cms(li, "l_partkey", depth=4, width=512, hash_fn="md5")
    topk = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("l_partkey"))
        .limit(15)
    )
    return _sk.cms_estimate(
        cms, topk, "l_partkey", depth=4, width=512, hash_fn="md5"
    ).select("l_partkey", "true_cnt", "cms_count")


_CMS_ORACLE = """
WITH ds AS (SELECT unnest(range(4)) AS d),
cells AS (
  SELECT ds.d,
         CAST(('0x' || substr(md5('cms' || ds.d || ':' || CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS w,
         COUNT(*) AS cnt
  FROM lineitem CROSS JOIN ds
  WHERE l_partkey IS NOT NULL
  GROUP BY 1, 2
), topk AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM lineitem GROUP BY 1
  ORDER BY true_cnt DESC, l_partkey ASC LIMIT 15
), probes AS (
  SELECT k.l_partkey, k.true_cnt, ds.d,
         CAST(('0x' || substr(md5('cms' || ds.d || ':' || CAST(k.l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS w
  FROM topk k CROSS JOIN ds
)
SELECT p.l_partkey, p.true_cnt,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_count
FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.w = c.w
GROUP BY p.l_partkey, p.true_cnt
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase within 2 hours of
    the first view: k chained step-filtered aggregations keyed by
    user (reach tables user-sized, event log scanned per step)."""
    from etl_spark_gradle_spark.operators import events as _ev

    _prep(spark)
    df = _t(spark, sf_dir, "events")
    return _ev.funnel_counts(
        df, "user_id", "event_type", "ts",
        ["view", "click", "purchase"], within_seconds=7200,
    )


_FUNNEL_ORACLE = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
    AND e.ts <= t1.t1 + to_seconds(7200)
  GROUP BY 1
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e
  JOIN t2 ON e.user_id = t2.user_id
  JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
    AND e.ts <= t1.t1 + to_seconds(7200)
  GROUP BY 1
)
SELECT CAST(1 AS INT) AS step_index, 'view' AS step,
       CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS users
UNION ALL
SELECT 2, 'click', CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
UNION ALL
SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM t3) AS BIGINT)
"""


def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid over 7-day periods (day-epoch arithmetic,
    engine-portable week buckets): first-touch agg + distinct
    user-period agg + one user-keyed join."""
    from etl_spark_gradle_spark.operators import events as _ev

    _prep(spark)
    df = _t(spark, sf_dir, "events")
    return _ev.cohort_retention(df, "user_id", "ts", origin="2024-01-01")


_COHORT_ORACLE = """
WITH p AS (
  SELECT user_id,
         CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS INT) AS period
  FROM events
), f AS (
  SELECT user_id, MIN(period) AS cohort_period FROM p GROUP BY 1
), a AS (
  SELECT DISTINCT user_id, period FROM p
)
SELECT f.cohort_period,
       CAST(a.period - f.cohort_period AS INT) AS period_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY f.cohort_period, a.period - f.cohort_period
"""


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum (md5 flavor — the DuckDB oracle
    reproduces it bit-for-bit): exact decimal sum of per-row 60-bit
    hashes + row count over canonical '|'-joined strings. The cheap
    replication-validation primitive; mergeable like the sketches."""
    from etl_spark_gradle_spark.operators import delta as _dl

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    out = _dl.table_checksum(
        orders,
        ["o_orderkey", "o_orderstatus", "o_orderpriority"],
        hash_fn="md5",
    )
    # emit the 21-digit checksum as a STRING: pandas renders DuckDB's
    # wide decimals as float64, mangling the exact value in the compare
    return out.select(F.col("checksum").cast("string").alias("checksum"), "row_count")


_TABLE_CHECKSUM_ORACLE = """
SELECT CAST(SUM(CAST(('0x' || substr(md5(concat_ws('|',
              COALESCE(CAST(o_orderkey AS VARCHAR), chr(0)),
              COALESCE(CAST(o_orderstatus AS VARCHAR), chr(0)),
              COALESCE(CAST(o_orderpriority AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT)) AS VARCHAR) AS checksum,
       CAST(COUNT(*) AS BIGINT) AS row_count
FROM orders
"""


def q_cms_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two CMS sketches (count-min
    inner product, never undercounts): estimate |orders ⋈ lineitem| on
    the order key from two KB-sized cell tables, emitted next to the
    TRUE join size — the oracle recomputes both, and the hash match
    pins the estimate's exact value AND the overcount invariant."""
    from etl_spark_gradle_spark.operators import sketch as _sk

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ca = _sk.build_cms(orders, "o_orderkey", depth=4, width=512, hash_fn="md5")
    # lineitem carries ~4 rows per order key at every SF: hash each
    # DISTINCT key once with its count as weight (cell sums integer-
    # identical; 4x fewer md5 chains, and the key exchange spreads the
    # hash work across tasks instead of one task per input file)
    cb = _sk.build_cms(
        li, "l_orderkey", depth=4, width=512, hash_fn="md5", pre_aggregate=True
    )
    est = _sk.cms_join_cardinality(ca, cb)
    true = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count("*").alias("true_join_rows"))
    )
    return est.crossJoin(true).select(
        "est_join_rows",
        "true_join_rows",
        (F.col("est_join_rows") >= F.col("true_join_rows")).alias("never_under"),
    )


_CMS_JOIN_EST_ORACLE = """
WITH ds AS (SELECT unnest(range(4)) AS d),
ca AS (
  SELECT ds.d,
         CAST(('0x' || substr(md5('cms' || ds.d || ':' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS w,
         COUNT(*) AS cnt
  FROM orders CROSS JOIN ds WHERE o_orderkey IS NOT NULL GROUP BY 1, 2
), cb AS (
  SELECT ds.d,
         CAST(('0x' || substr(md5('cms' || ds.d || ':' || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS w,
         COUNT(*) AS cnt
  FROM lineitem CROSS JOIN ds WHERE l_orderkey IS NOT NULL GROUP BY 1, 2
), ip AS (
  SELECT ca.d, SUM(ca.cnt * cb.cnt) AS v
  FROM ca JOIN cb ON ca.d = cb.d AND ca.w = cb.w
  GROUP BY ca.d
), est AS (SELECT CAST(MIN(v) AS BIGINT) AS est_join_rows FROM ip),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS true_join_rows
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT est.est_join_rows, t.true_join_rows,
       est.est_join_rows >= t.true_join_rows AS never_under
FROM est, t
"""


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: brands bought together in one
    order, top-25. Within-basket pair expansion via a higher-order
    combination expression (no self-join) — quadratic only in basket
    size."""
    from etl_spark_gradle_spark.operators import events as _ev

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(pa.select("p_partkey", "p_brand")),
                     li.l_partkey == F.col("p_partkey"))
    return _ev.market_basket_pairs(
        joined, "l_orderkey", "p_brand", min_support=2, top_k=25
    )


_MARKET_BASKET_ORACLE = """
WITH b AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IS NOT NULL
)
SELECT a.p_brand AS item_a, c.p_brand AS item_b,
       CAST(COUNT(*) AS BIGINT) AS baskets
FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY baskets DESC, item_a ASC, item_b ASC
LIMIT 25
"""


def q_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (k=2) over distinct part
    names via LOSSLESS PassJoin segment blocking — one bounded-
    multiplication equi-join, no cartesian product. The oracle is the
    full QUADRATIC levenshtein join, so the hash match proves the
    blocking loses no pair."""
    from etl_spark_gradle_spark.operators import strings as _sj

    _prep(spark)
    pa = _t(spark, sf_dir, "part")
    return _sj.edit_distance_join(pa, "p_name", max_distance=2)


_EDIT_JOIN_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
SELECT a.p_name AS s_a, b.p_name AS s_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over 4 lineitem measures — 6 pairs
    from ONE exact-decimal moment aggregation (pairs add expressions,
    not passes); closing float ops in fixed operand order so DuckDB
    reproduces every double bit-for-bit."""
    from etl_spark_gradle_spark.operators import stats as _st

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return _st.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _corr_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    moments = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in cols:
        moments.append(
            f"CAST(CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s_{c}"
        )
        moments.append(
            f"CAST(CAST(SUM(CAST(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS ss_{c}"
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            moments.append(
                f"CAST(CAST(SUM(CAST(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxy_{a}_{b}"
            )
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"CASE WHEN (n * ss_{a} - s_{a} * s_{a}) > 0 AND (n * ss_{b} - s_{b} * s_{b}) > 0 "
                f"THEN (n * sxy_{a}_{b} - s_{a} * s_{b}) "
                f"/ (sqrt(n * ss_{a} - s_{a} * s_{a}) * sqrt(n * ss_{b} - s_{b} * s_{b})) "
                f"END AS corr FROM m"
            )
    return (
        "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(pairs)
    )


def q_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS from the same exact moments; r² as r·r
    (multiplication, not pow — pow's last ulp is engine-defined)."""
    from etl_spark_gradle_spark.operators import stats as _st

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return _st.linear_fit(
        li, "l_quantity", "l_extendedprice", group_by=["l_returnflag"]
    )


_LINFIT_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n_raw AS n,
       CASE WHEN (n * sxx - sx * sx) > 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
       CASE WHEN (n * sxx - sx * sx) > 0
            THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END AS intercept,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
               / ((n * sxx - sx * sx) * (n * syy - sy * sy))
       END AS r2
FROM m
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals per priority class —
    the fabricated-numbers detector. Digits come from the decimal
    string of the integer micro-unit value (identical on every
    engine, no libm log10); chi2 closes as a fixed nine-term chain
    over exact counts with literal expected proportions."""
    from etl_spark_gradle_spark.operators.stats import benford_test

    _prep(spark)
    od = _t(spark, sf_dir, "orders")
    return benford_test(od, "o_totalprice", group_by=["o_orderpriority"])


def _benford_oracle() -> str:
    from etl_spark_gradle_spark.operators.stats import _BENFORD_P

    counts = ",\n".join(
        f"    CAST(count(CASE WHEN d = {d} THEN 1 END) AS BIGINT) AS d{d}"
        for d in range(1, 10)
    )
    chi_terms = " + ".join(
        f"((CAST(d{d} AS DOUBLE) - CAST(n AS DOUBLE) * {_BENFORD_P[d-1]!r})"
        f" * (CAST(d{d} AS DOUBLE) - CAST(n AS DOUBLE) * {_BENFORD_P[d-1]!r}))"
        f" / (CAST(n AS DOUBLE) * {_BENFORD_P[d-1]!r})"
        for d in range(1, 10)
    )
    return f"""
WITH v AS (
  SELECT o_orderpriority,
         CAST(floor(CAST(abs(CAST(o_totalprice AS DOUBLE)) AS DECIMAL(27,6))
                    * 1000000) AS BIGINT) AS vu
  FROM orders
), d AS (
  SELECT o_orderpriority,
         CASE WHEN vu > 0
              THEN CAST(substring(CAST(vu AS VARCHAR), 1, 1) AS INT) END AS d
  FROM v
), agg AS (
  SELECT o_orderpriority,
    CAST(count(d) AS BIGINT) AS n,
{counts}
  FROM d GROUP BY 1
)
SELECT *, CASE WHEN n > 0 THEN {chi_terms} END AS chi2
FROM agg
"""


def q_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag two-regressor OLS with intercept (price on quantity
    + discount): 3x3 normal equations by Cramer's rule over the exact
    decimal moment table — coefficients match numpy lstsq to the
    printed precision and reproduce bit-for-bit cross-engine because
    every determinant closes in fixed IEEE order from exact sums."""
    from etl_spark_gradle_spark.operators import stats as _st

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return _st.multiple_regression(
        li, "l_extendedprice", ["l_quantity", "l_discount"],
        group_by=["l_returnflag"],
    )


_MULTIPLE_REGRESSION_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n_raw,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s1,
    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s2,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS s11,
    CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS s22,
    CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS s12,
    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS s1y,
    CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS s2y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL
  GROUP BY l_returnflag
), d AS (
  SELECT *,
    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s12 - s11 * s2) AS det_a,
    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      + s2 * (s1y * s12 - s11 * s2y) AS det0,
    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s2y - s1y * s2) AS det1,
    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      + sy * (s1 * s12 - s11 * s2) AS det2
  FROM m
)
SELECT l_returnflag, n_raw AS n,
  CASE WHEN det_a != 0.0 THEN det0 / det_a END AS intercept,
  CASE WHEN det_a != 0.0 THEN det1 / det_a END AS beta_l_quantity,
  CASE WHEN det_a != 0.0 THEN det2 / det_a END AS beta_l_discount,
  CASE WHEN det_a != 0.0 AND (syy - (sy * sy) / n) > 0
       THEN 1.0 - (syy - ((det0 / det_a) * sy + (det1 / det_a) * s1y
                          + (det2 / det_a) * s2y))
                / (syy - (sy * sy) / n)
  END AS r2
FROM d
"""


def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row z-scores against the row's group moments (broadcast
    join-back, input never shuffled); threshold 1.5 sits inside a
    uniform distribution's |z|max ≈ √3 so both flag values appear."""
    from etl_spark_gradle_spark.operators import stats as _st

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").where("l_orderkey % 50 = 0")
    out = _st.zscore_flags(
        li, "l_extendedprice", group_by=["l_returnflag"], threshold=1.5
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice", "zscore", "is_outlier",
    )


_ZSCORE_ORACLE = """
WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0),
m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxx
  FROM src GROUP BY l_returnflag
), s AS (
  SELECT l_returnflag, sx / n AS mean,
         CASE WHEN (n * sxx - sx * sx) / (n * n) > 0
              THEN sqrt((n * sxx - sx * sx) / (n * n)) END AS std
  FROM m
)
SELECT src.l_orderkey, src.l_linenumber, src.l_returnflag, src.l_extendedprice,
       CASE WHEN s.std IS NOT NULL
            THEN (CAST(src.l_extendedprice AS DOUBLE) - s.mean) / s.std END AS zscore,
       CASE WHEN s.std IS NOT NULL
            THEN abs((CAST(src.l_extendedprice AS DOUBLE) - s.mean) / s.std) >= 1.5
            ELSE FALSE END AS is_outlier
FROM src JOIN s ON src.l_returnflag = s.l_returnflag
"""


def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user 6-hour grid over events
    with linear interpolation across empty buckets (~45% of the grid
    at sf0.01). Raw table scanned once (bucket groupBy with map-side
    partials); spine generated distributed via sequence+explode; fill
    windows run over grid-sized data only."""
    from etl_spark_gradle_spark.operators.timeseries import resample
    from etl_spark_gradle_spark.plans.config import AggregateExpr

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return resample(
        ev,
        time_col="ts",
        step_seconds=21600,
        aggregations=[AggregateExpr("value", "avg_exact", "avg_value")],
        group_by=["user_id"],
        fill="linear",
    )


_RESAMPLE_LINEAR_ORACLE = """
WITH obs AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS bucket_ts,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS avg_value,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM obs GROUP BY 1
), spine AS (
  SELECT user_id, unnest(range(mn, mx + 21600, 21600)) AS bucket_ts FROM bounds
), grid AS (
  SELECT s.user_id, s.bucket_ts, o.avg_value,
         coalesce(o.n_obs, 0) AS n_obs
  FROM spine s LEFT JOIN obs o USING (user_id, bucket_ts)
), f AS (
  SELECT user_id, bucket_ts, avg_value, n_obs,
    last_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN avg_value IS NOT NULL THEN CAST(bucket_ts AS DOUBLE) END
               IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN avg_value IS NOT NULL THEN CAST(bucket_ts AS DOUBLE) END
                IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM grid
)
SELECT user_id, bucket_ts,
  CASE WHEN avg_value IS NOT NULL THEN avg_value
       WHEN pt IS NOT NULL AND nt IS NOT NULL
       THEN pv + (nv - pv) * ((CAST(bucket_ts AS DOUBLE) - pt) / (nt - pt))
       ELSE NULL END AS avg_value,
  n_obs
FROM f
"""


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same grid, forward-fill semantics (last observation carries
    over gaps; leading gaps stay NULL) plus a sum aggregate — the
    monitoring-dashboard shape."""
    from etl_spark_gradle_spark.operators.timeseries import resample
    from etl_spark_gradle_spark.plans.config import AggregateExpr

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return resample(
        ev,
        time_col="ts",
        step_seconds=21600,
        aggregations=[AggregateExpr("value", "sum_exact", "sum_value")],
        group_by=["user_id"],
        fill="ffill",
    )


_RESAMPLE_FFILL_ORACLE = """
WITH obs AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS bucket_ts,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM obs GROUP BY 1
), spine AS (
  SELECT user_id, unnest(range(mn, mx + 21600, 21600)) AS bucket_ts FROM bounds
), grid AS (
  SELECT s.user_id, s.bucket_ts, o.sum_value,
         coalesce(o.n_obs, 0) AS n_obs
  FROM spine s LEFT JOIN obs o USING (user_id, bucket_ts)
)
SELECT user_id, bucket_ts,
  last_value(sum_value IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY bucket_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value,
  n_obs
FROM grid
"""


def q_resample_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample with a grid origin INSIDE the data range (mid-January,
    +7 s so the grid is misaligned with the step): events before the
    origin have a NEGATIVE offset, which exercises true FLOOR division
    in the bucket assignment — truncate-toward-zero would shift every
    pre-origin event one bucket late (the r4 ADVICE bug, fixed in
    timeseries._bucket_expr via delta − pmod(delta, step)). The oracle
    spells the same floor-to-multiple explicitly (DuckDB's integer
    ``//`` ALSO truncates toward zero, so it can't be used here)."""
    from etl_spark_gradle_spark.operators.timeseries import resample
    from etl_spark_gradle_spark.plans.config import AggregateExpr

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return resample(
        ev,
        time_col="ts",
        step_seconds=21600,
        aggregations=[AggregateExpr("value", "avg_exact", "avg_value")],
        group_by=["user_id"],
        fill="null",
        origin=1705276807,  # 2024-01-15 00:00:07 UTC — mid-range, off-grid
    )


_RESAMPLE_ORIGIN_ORACLE = """
WITH obs AS (
  SELECT user_id,
         d - (((d % 21600) + 21600) % 21600) + 1705276807 AS bucket_ts,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS avg_value,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM (SELECT user_id, value,
               CAST(floor(epoch(ts)) AS BIGINT) - 1705276807 AS d
        FROM events)
  GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM obs GROUP BY 1
), spine AS (
  SELECT user_id, unnest(range(mn, mx + 21600, 21600)) AS bucket_ts FROM bounds
)
SELECT s.user_id, s.bucket_ts, o.avg_value, coalesce(o.n_obs, 0) AS n_obs
FROM spine s LEFT JOIN obs o USING (user_id, bucket_ts)
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: per-event-type Median Absolute
    Deviation flagging over event values — median and MAD are EXACT
    type-1 quantiles via the distributed histogram+CDF path (no value
    buffering, no sketch), so the summary is hash-reproducible
    cross-engine; threshold = 3·1.4826·MAD in "robust sigmas"."""
    from etl_spark_gradle_spark.operators.stats import mad_outliers

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, "value", group_by=["event_type"])


_MAD_OUTLIERS_ORACLE = """
WITH base AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL
), c1 AS (
  SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), cdf1 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c1
), med AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS med
  FROM cdf1 GROUP BY g
), dev AS (
  SELECT b.g, abs(b.x - m.med) AS adev FROM base b JOIN med m USING (g)
), c2 AS (
  SELECT g, adev AS v, CAST(count(*) AS BIGINT) AS c FROM dev GROUP BY 1, 2
), cdf2 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c2
), mad AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS mad
  FROM cdf2 GROUP BY g
)
SELECT d.g AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       m.med AS median,
       a.mad AS mad,
       3.0 * 1.4826 * a.mad AS threshold,
       CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN med m USING (g) JOIN mad a USING (g)
GROUP BY 1, m.med, a.mad
"""


def q_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip lineitem prices to the per-returnflag
    [0.05, 0.95] exact-quantile band — keep-the-row outlier handling
    (vs quantile_filter's drop-the-row). Thresholds via the grouped
    histogram+CDF path, broadcast back; data never re-shuffles."""
    from etl_spark_gradle_spark.operators.stats import quantile_clip

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = quantile_clip(
        li, "l_extendedprice", lo=0.05, hi=0.95,
        group_by=["l_returnflag"], output_col="clipped",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice", "clipped",
    )


_QUANTILE_CLIP_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
), cdf AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c
), th AS (
  SELECT g,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(0.05 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS qlo,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS qhi
  FROM cdf GROUP BY g
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       l.l_extendedprice,
       CASE WHEN l.l_extendedprice IS NULL THEN NULL
            ELSE least(greatest(CAST(l.l_extendedprice AS DOUBLE), t.qlo), t.qhi)
       END AS clipped
FROM lineitem l LEFT JOIN th t ON l.l_returnflag = t.g
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location per return flag: the mean of lineitem prices
    inside the [0.05, 0.95] exact-quantile band (tails DROPPED) — the
    aggregate companion to quantile_clip. Band edges are type-1
    quantile table values; the band sum accumulates in decimal(38,6)
    and closes through the string round-trip (the cross-engine float
    posture), so the whole row is hash-gateable."""
    from etl_spark_gradle_spark.operators.stats import trimmed_mean

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return trimmed_mean(
        li, "l_extendedprice", lo=0.05, hi=0.95, group_by=["l_returnflag"]
    )


_TRIMMED_MEAN_ORACLE = """
WITH d AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), c AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
), cdf AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c
), th AS (
  SELECT g,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(0.05 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS qlo,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS qhi
  FROM cdf GROUP BY g
)
SELECT d.g AS l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN d.v >= t.qlo AND d.v <= t.qhi THEN 1 END)
            AS BIGINT) AS n_used,
       t.qlo AS q_lo, t.qhi AS q_hi,
       CAST(CAST(sum(CASE WHEN d.v >= t.qlo AND d.v <= t.qhi
                          THEN CAST(d.v AS DECIMAL(38,6)) END) AS VARCHAR)
            AS DOUBLE)
         / CAST(count(CASE WHEN d.v >= t.qlo AND d.v <= t.qhi THEN 1 END)
                AS DOUBLE) AS mean
FROM d JOIN th t USING (g)
GROUP BY 1, t.qlo, t.qhi
"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing rolling statistics over the last 7 events:
    exact interpolated median AND type-1 p90 — the robust anomaly
    baseline Spark's percentile_approx window can't give exactly.
    Values quantize to integer micro-units so the windowed order
    statistics are exact longs; both closes are fixed IEEE order."""
    from etl_spark_gradle_spark.operators.timeseries import rolling_median

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = rolling_median(
        ev, ["user_id"], "ts", "value", 7,
        out_col="roll_med", tiebreak=["event_id"],
    )
    out = rolling_median(
        out, ["user_id"], "ts", "value", 7,
        out_col="roll_p90", tiebreak=["event_id"], prob=0.9,
    )
    return out.select("event_id", "user_id", "value", "roll_med", "roll_p90")


_ROLLING_MEDIAN_ORACLE = """
WITH q AS (
  SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS value,
         CAST(floor(CAST(value AS DECIMAL(27,6)) * 1000000) AS BIGINT) AS vq
  FROM events
), w AS (
  SELECT event_id, user_id, value,
         list_sort(list(vq) FILTER (vq IS NOT NULL) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
  FROM q
)
SELECT event_id, user_id, value,
       CAST(l[(len(l)+1)//2] + l[len(l)//2 + 1] AS DOUBLE)
         * 0.5 * 1e-6 AS roll_med,
       CAST(l[greatest(1, CAST(ceil(0.9 * CAST(len(l) AS DOUBLE))
                               AS BIGINT))] AS DOUBLE) * 1e-6 AS roll_p90
FROM w
"""


def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling without replacement: 5 customers
    per market segment, balance-weighted, via the deterministic
    Efraimidis-Spirakis scheme (md5-derived uniforms, ln(u)/w log
    form in fixed IEEE order) — the 'exactly 10k docs per source,
    quality-weighted' curation shape. The oracle replays the same
    arithmetic, so the winning SET is hash-exact."""
    from etl_spark_gradle_spark.operators.corpus import weighted_reservoir

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("bal"),
        (F.col("c_acctbal").cast("double") + F.lit(1000.0)).alias("w"),
    )
    out = weighted_reservoir(
        cust, "c_custkey", "w", 5, strata_col="c_mktsegment"
    )
    return out.select("c_custkey", "c_mktsegment", "bal")


_WEIGHTED_RESERVOIR_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS bal,
         CAST(c_acctbal AS DOUBLE) + 1000.0 AS w
  FROM customer
), p AS (
  SELECT *,
    (CAST(CAST('0x' || substring(
        md5('wres:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
      AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM c
), r AS (
  SELECT c_custkey, c_mktsegment, bal,
         CASE WHEN w > 0 THEN ln(u) / w END AS pri,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY CASE WHEN w > 0 THEN ln(u) / w END DESC NULLS LAST,
                    CAST(c_custkey AS VARCHAR)) AS rn
  FROM p
)
SELECT c_custkey, c_mktsegment, bal
FROM r WHERE rn <= 5 AND pri IS NOT NULL
"""


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: feed-volume anomaly monitor — daily event
    counts per type → trailing-7-day exact rolling-median baseline →
    spike flag (count > 2x baseline). The operator chain every
    ingestion pipeline runs to catch a doubled feed or a dead
    producer; composes resample-style bucketing with the r8
    rolling_median operator on integer-exact counts."""
    from etl_spark_gradle_spark.operators.timeseries import rolling_median

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = rolling_median(
        daily, ["event_type"], "day", "n", 7, out_col="baseline"
    )
    return out.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        "n",
        "baseline",
        (F.col("n").cast("double") > F.lit(2.0) * F.col("baseline")).alias(
            "is_spike"
        ),
    )


_VOLUME_ANOMALY_ORACLE = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), q AS (
  SELECT *, CAST(floor(CAST(n AS DECIMAL(27,6)) * 1000000) AS BIGINT) AS vq
  FROM d
), w AS (
  SELECT event_type, day, n,
         list_sort(list(vq) OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
  FROM q
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
       CAST(l[(len(l)+1)//2] + l[len(l)//2 + 1] AS DOUBLE)
         * 0.5 * 1e-6 AS baseline,
       CAST(n AS DOUBLE) > 2.0 * (CAST(l[(len(l)+1)//2] + l[len(l)//2 + 1]
         AS DOUBLE) * 0.5 * 1e-6) AS is_spike
FROM w
"""


def q_feature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: the standard numeric feature-prep chain —
    impute(median) → quantile_clip[0.05, 0.95] → robust_scale(MAD) per
    return flag, on prices with every 11th value masked NULL. Each
    stage consumes the previous stage's output (fills are clipped,
    clipped values feed the scaling statistics), so the oracle replay
    is cross-operator evidence no single-operator row gives."""
    from etl_spark_gradle_spark.operators.features import robust_scale
    from etl_spark_gradle_spark.operators.stats import impute, quantile_clip

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.when(
            (F.col("l_orderkey") + F.col("l_linenumber")) % 11 != 0,
            F.col("l_extendedprice"),
        )
        .cast("double")
        .alias("v"),
    )
    # Each stage references its input TWICE (group-stats subtree +
    # join-back probe), so chaining three of them re-planned the whole
    # upstream per reference: the un-pinned composition planned 32
    # parquet scans / 45 exchanges with ZERO exchange reuse (r12 plan
    # audit). Pinning each stage's output truncates the lineage to one
    # linear segment per stage — same rows, same values, same oracle
    # hash; 3 scans of pinned blocks instead of 32 of the table.
    filled = impute(
        li, "v", "median", ["l_returnflag"], out_col="v_f"
    ).localCheckpoint(eager=True)
    clipped = quantile_clip(
        filled, "v_f", lo=0.05, hi=0.95,
        group_by=["l_returnflag"], output_col="v_c",
    ).localCheckpoint(eager=True)
    scaled = robust_scale(
        clipped, "v_c", group_by=["l_returnflag"], output_col="v_s"
    )
    return scaled.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "v", "v_f", "v_c", "v_s"
    )


_FEATURE_PIPELINE_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_returnflag AS g,
         CASE WHEN (l_orderkey + l_linenumber) % 11 != 0
              THEN CAST(l_extendedprice AS DOUBLE) END AS v
  FROM lineitem
), c1 AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS c
  FROM li WHERE v IS NOT NULL GROUP BY 1, 2
), cdf1 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n FROM c1
), med AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS m
  FROM cdf1 GROUP BY g
), filled AS (
  SELECT li.l_orderkey, li.l_linenumber, li.g, li.v,
         coalesce(li.v, med.m) AS v_f
  FROM li LEFT JOIN med ON li.g = med.g
), c2 AS (
  SELECT g, v_f AS v, CAST(count(*) AS BIGINT) AS c
  FROM filled WHERE v_f IS NOT NULL GROUP BY 1, 2
), cdf2 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n FROM c2
), th AS (
  SELECT g,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(0.05 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS qlo,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS qhi
  FROM cdf2 GROUP BY g
), clipped AS (
  SELECT f.*, CASE WHEN f.v_f IS NULL THEN NULL
                   ELSE least(greatest(f.v_f, t.qlo), t.qhi) END AS v_c
  FROM filled f LEFT JOIN th t ON f.g = t.g
), c3 AS (
  SELECT g, v_c AS v, CAST(count(*) AS BIGINT) AS c
  FROM clipped WHERE v_c IS NOT NULL GROUP BY 1, 2
), cdf3 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n FROM c3
), med2 AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS m
  FROM cdf3 GROUP BY g
), dev AS (
  SELECT cl.g, abs(cl.v_c - m2.m) AS adev
  FROM clipped cl JOIN med2 m2 ON cl.g = m2.g WHERE cl.v_c IS NOT NULL
), c4 AS (
  SELECT g, adev AS v, CAST(count(*) AS BIGINT) AS c FROM dev GROUP BY 1, 2
), cdf4 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n FROM c4
), mad AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS mad
  FROM cdf4 GROUP BY g
)
SELECT cl.l_orderkey, cl.l_linenumber, cl.g AS l_returnflag,
       cl.v, cl.v_f, cl.v_c,
       CASE WHEN 1.4826 * a.mad > 0
            THEN (cl.v_c - m2.m) / (1.4826 * a.mad) END AS v_s
FROM clipped cl
LEFT JOIN med2 m2 ON cl.g = m2.g
LEFT JOIN mad a ON cl.g = a.g
"""


def q_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-evaluation closeout: per-nation recall@10 of a
    LOSSY ranking (customers by balance bucketed to $100) against the
    exact balance ranking — the same topk_recall operator that grades
    the ANN paths (LSH/IVF vs brute force, pytest-asserted), here on
    integer-exact data so every hit count is hash-gateable."""
    from pyspark.sql import Window

    from etl_spark_gradle_spark.operators.similarity import topk_recall

    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    w_t = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    w_c = Window.partitionBy("c_nationkey").orderBy(
        F.floor(F.col("c_acctbal") / F.lit(100)).desc(),
        F.col("c_custkey").asc(),
    )
    truth = cust.select(
        F.col("c_nationkey").alias("query_id"),
        F.col("c_custkey").alias("neighbor_id"),
        F.row_number().over(w_t).alias("rank"),
    )
    cand = cust.select(
        F.col("c_nationkey").alias("query_id"),
        F.col("c_custkey").alias("neighbor_id"),
        F.row_number().over(w_c).alias("rank"),
    )
    return topk_recall(cand, truth, k=10)


_TOPK_RECALL_ORACLE = """
WITH t AS (
  SELECT c_nationkey AS q, c_custkey AS nb,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS r
  FROM customer
), c AS (
  SELECT c_nationkey AS q, c_custkey AS nb,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY floor(c_acctbal / 100) DESC,
                                     c_custkey) AS r
  FROM customer
), tt AS (SELECT q, nb FROM t WHERE r <= 10),
   cc AS (SELECT q, nb FROM c WHERE r <= 10),
   h AS (
  SELECT tt.q, CAST(count(*) AS BIGINT) AS hits
  FROM tt JOIN cc ON tt.q = cc.q AND tt.nb = cc.nb GROUP BY 1
)
SELECT nt.q AS query_id,
       nt.n_truth, nc.n_candidates,
       coalesce(h.hits, 0) AS hits,
       CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(nt.n_truth AS DOUBLE)
         AS recall
FROM (SELECT q, CAST(count(*) AS BIGINT) AS n_truth FROM tt GROUP BY 1) nt
JOIN (SELECT q, CAST(count(*) AS BIGINT) AS n_candidates FROM cc GROUP BY 1) nc
  ON nt.q = nc.q
LEFT JOIN h ON nt.q = h.q
"""


def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null imputation: events with every 7th value masked NULL get
    per-event-type EXACT-median fills plus an imputation-indicator
    column — the SimpleImputer staple. The median rides the
    distributed-CDF quantile path (no percentile_approx sketch), so
    the filled values are reference table values and hash-exact."""
    from etl_spark_gradle_spark.operators.stats import impute

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 != 0, F.col("value"))
        .cast("double")
        .alias("v"),
    )
    return impute(
        ev, "v", "median", ["event_type"],
        out_col="v_filled", flag_col="was_imputed",
    )


_IMPUTE_ORACLE = """
WITH e AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 != 0 THEN CAST(value AS DOUBLE) END AS v
  FROM events
), c AS (
  SELECT event_type AS g, v, CAST(count(*) AS BIGINT) AS c
  FROM e WHERE v IS NOT NULL GROUP BY 1, 2
), cdf AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c
), med AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS m
  FROM cdf GROUP BY g
)
SELECT e.event_id, e.event_type, e.v,
       (e.v IS NULL AND m.m IS NOT NULL) AS was_imputed,
       coalesce(e.v, m.m) AS v_filled
FROM e LEFT JOIN med m ON e.event_type = m.g
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution matching: map each order total onto the lineitem
    price distribution's type-1 quantile at the order's own percent
    rank — afterwards the normalized column is distributed exactly
    like lineitem prices. The target rank is pure integer arithmetic
    (ceil(cum_x*n_ref/n_x) via decimal DIV) and the output is literal
    reference table values, so every cell is hash-exact."""
    from etl_spark_gradle_spark.operators.stats import quantile_normalize

    _prep(spark)
    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("p")
    )
    return quantile_normalize(od, "price", li, "p", out_col="norm")


_QUANTILE_NORMALIZE_ORACLE = """
WITH x AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders
), cx AS (
  SELECT price AS v, CAST(count(*) AS BIGINT) AS c
  FROM x WHERE price IS NOT NULL GROUP BY 1
), cdx AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM cx
), rr AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), cr AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c FROM rr GROUP BY 1
), cdr AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, c FROM cr
), t AS (
  SELECT cdx.v,
         greatest(1, CAST((cdx.cum * nr.n + cdx.n - 1) // cdx.n
                          AS BIGINT)) AS rank
  FROM cdx CROSS JOIN (SELECT sum(c) AS n FROM cr) nr
), m AS (
  SELECT t.v, r.v AS norm
  FROM t JOIN cdr r ON t.rank > r.cum - r.c AND t.rank <= r.cum
)
SELECT x.o_orderkey, x.price, m.norm
FROM x LEFT JOIN m ON x.price = m.v
"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time temporal join: orders pick up the customer-segment
    VERSION valid at their order date from a two-version SCD2 timeline
    constructed deterministically from customer (v1 until 1996-01-01,
    v2 = segment+'_V2' open-ended). Joining facts to is_current rows
    would rewrite history — this is the correct time-travel read.
    Pre-1992 orders (none in the data) and unknown keys would keep
    NULL segments under the LEFT semantics the oracle mirrors."""
    from etl_spark_gradle_spark.operators.delta import scd2_lookup

    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    mid = "1996-01-01 00:00:00"
    v1 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(mid).cast("timestamp").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    v2 = cust.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("_V2")).alias("segment"),
        F.lit(mid).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim = v1.unionByName(v2)
    facts = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.col("o_orderdate").alias("ts"),
    )
    out = scd2_lookup(facts, dim, ["c_custkey"], "ts")
    return out.select(
        "o_orderkey",
        "c_custkey",
        F.date_format("ts", "yyyy-MM-dd").alias("order_date"),
        "segment",
    )


_SCD2_LOOKUP_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '1992-01-01 00:00:00' AS vf,
         TIMESTAMP '1996-01-01 00:00:00' AS vt
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_V2' AS segment,
         TIMESTAMP '1996-01-01 00:00:00' AS vf,
         CAST(NULL AS TIMESTAMP) AS vt
  FROM customer
)
SELECT o.o_orderkey, o.o_custkey AS c_custkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       d.segment
FROM orders o LEFT JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND o.o_orderdate >= d.vf
 AND (d.vt IS NULL OR o.o_orderdate < d.vt)
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the supplier→part bipartite graph
    derived from lineitem (prefixed node ids keep the key spaces
    apart). Integer mass units (1e-12) + floor division make every
    iteration exact under any partitioning; the oracle unrolls the same
    3 iterations as CTEs with DuckDB's integer `//` (truncate == floor
    for the non-negative masses)."""
    from etl_spark_gradle_spark.operators.graph import pagerank

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return pagerank(edges, "src", "dst", damping=0.85, iterations=3)


def _pagerank_oracle(iterations: int = 3, d100: int = 85) -> str:
    scale = 10**12
    ctes = [
        "e AS (SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS s, "
        "'p:' || CAST(l_partkey AS VARCHAR) AS t FROM lineitem)",
        "nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "deg AS (SELECT s, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY s)",
        f"pr0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS pr "
        "FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iterations + 1):
        prev = f"pr{i - 1}"
        ctes.append(
            f"pr{i} AS (SELECT nodes.node, "
            f"CAST(({100 - d100} * {scale}) // (100 * nn.n) "
            f"+ ({d100} * COALESCE(i.insum, 0)) // 100 AS BIGINT) AS pr "
            "FROM nodes CROSS JOIN nn LEFT JOIN ("
            "SELECT e.t AS node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS insum "
            f"FROM e JOIN {prev} p ON e.s = p.node JOIN deg d ON e.s = d.s "
            "GROUP BY e.t) i ON nodes.node = i.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, pr AS pr_int, "
        f"CAST(pr AS DOUBLE) / {float(scale)} AS pr FROM pr{iterations}"
    )


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile of the daily event-count series per
    event type at lags 1/2/7 — the seasonality fingerprint (is volume
    persistent day-over-day? weekly-periodic?). Counts are integers so
    the decimal quantization is exact by construction; all three lags
    ride one series-keyed window and close in one aggregation."""
    from etl_spark_gradle_spark.operators.timeseries import acf

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return acf(daily, "day", "cnt", [1, 2, 7], group_by=["event_type"])


def _acf_oracle(lags=(1, 2, 7)) -> str:
    lag_cols = ",\n    ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS y{k}"
        for k in lags
    )
    sums = []
    for k in lags:
        pair = f"(x IS NOT NULL AND y{k} IS NOT NULL)"
        sums.append(
            f"CAST(count(CASE WHEN {pair} THEN 1 END) AS BIGINT) AS n_{k},\n"
            f"    SUM(CASE WHEN {pair} THEN x END) AS sx_{k},\n"
            f"    SUM(CASE WHEN {pair} THEN y{k} END) AS sy_{k},\n"
            # widen ONE operand to DECIMAL(19,6) so DuckDB multiplies in
            # int128 (a DECIMAL(18)xDECIMAL(18) multiply runs in int64 and
            # overflows at daily counts ~6.7e3, caught by the sf1 sweep);
            # the product DECIMAL(37,12) is exact, values unchanged
            f"    SUM(CASE WHEN {pair} THEN CAST(CAST(x AS DECIMAL(19,6)) * x AS DECIMAL(38,12)) END) AS sxx_{k},\n"
            f"    SUM(CASE WHEN {pair} THEN CAST(CAST(y{k} AS DECIMAL(19,6)) * y{k} AS DECIMAL(38,12)) END) AS syy_{k},\n"
            f"    SUM(CASE WHEN {pair} THEN CAST(CAST(x AS DECIMAL(19,6)) * y{k} AS DECIMAL(38,12)) END) AS sxy_{k}"
        )
    branches = []
    for k in lags:
        branches.append(
            f"SELECT event_type, CAST({k} AS INT) AS lag, n_{k} AS n_pairs,\n"
            "  CASE WHEN n_{k} >= 2 AND vx_{k} > 0 AND vy_{k} > 0\n"
            "       THEN cov_{k} / sqrt(vx_{k} * vy_{k}) END AS acf_val\n"
            "FROM closed".replace("{k}", str(k))
        )
    closes = ",\n    ".join(
        f"CAST(n_{k} AS DOUBLE) * CAST(CAST(sxx_{k} AS VARCHAR) AS DOUBLE)"
        f" - CAST(CAST(sx_{k} AS VARCHAR) AS DOUBLE)"
        f" * CAST(CAST(sx_{k} AS VARCHAR) AS DOUBLE) AS vx_{k},\n"
        f"    CAST(n_{k} AS DOUBLE) * CAST(CAST(syy_{k} AS VARCHAR) AS DOUBLE)"
        f" - CAST(CAST(sy_{k} AS VARCHAR) AS DOUBLE)"
        f" * CAST(CAST(sy_{k} AS VARCHAR) AS DOUBLE) AS vy_{k},\n"
        f"    CAST(n_{k} AS DOUBLE) * CAST(CAST(sxy_{k} AS VARCHAR) AS DOUBLE)"
        f" - CAST(CAST(sx_{k} AS VARCHAR) AS DOUBLE)"
        f" * CAST(CAST(sy_{k} AS VARCHAR) AS DOUBLE) AS cov_{k}"
        for k in lags
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(CAST(count(*) AS BIGINT) AS DECIMAL(18,6)) AS x
  FROM events GROUP BY 1, 2
), l AS (
  SELECT event_type, x,
    {lag_cols}
  FROM daily
), m AS (
  SELECT event_type,
    {",".join(sums)}
  FROM l GROUP BY event_type
), closed AS (
  SELECT *,
    {closes}
  FROM m
)
{" UNION ALL ".join(branches)}
"""


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t per return flag: does
    mean extended price differ between linestatus F and O? Exact
    decimal moments close in fixed IEEE order (the moment_sums
    posture), so t and the Welch–Satterthwaite df reproduce
    bit-for-bit cross-engine."""
    from etl_spark_gradle_spark.operators.stats import welch_ttest

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return welch_ttest(
        li, "l_extendedprice", "l_linestatus", group_by=["l_returnflag"]
    )


_WELCH_TTEST_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
    CAST(count(CASE WHEN l_linestatus = 'F' AND l_extendedprice IS NOT NULL
               THEN 1 END) AS BIGINT) AS n_a,
    CAST(count(CASE WHEN l_linestatus = 'O' AND l_extendedprice IS NOT NULL
               THEN 1 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN l_linestatus = 'F'
        THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS sum_a,
    SUM(CASE WHEN l_linestatus = 'F'
        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))
                  AS DECIMAL(38,4)) END) AS sumsq_a,
    SUM(CASE WHEN l_linestatus = 'O'
        THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS sum_b,
    SUM(CASE WHEN l_linestatus = 'O'
        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))
                  AS DECIMAL(38,4)) END) AS sumsq_b
  FROM lineitem GROUP BY l_returnflag
), c AS (
  SELECT l_returnflag, n_a, n_b,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(CAST(sum_a AS VARCHAR) AS DOUBLE) AS sa,
    CAST(CAST(sumsq_a AS VARCHAR) AS DOUBLE) AS sqa,
    CAST(CAST(sum_b AS VARCHAR) AS DOUBLE) AS sb,
    CAST(CAST(sumsq_b AS VARCHAR) AS DOUBLE) AS sqb
  FROM m
), v AS (
  SELECT l_returnflag, n_a, n_b, na, nb,
    CASE WHEN n_a > 0 THEN sa / na END AS mean_a,
    CASE WHEN n_b > 0 THEN sb / nb END AS mean_b,
    CASE WHEN n_a >= 2
         THEN (na * sqa - sa * sa) / (na * (na - 1.0)) END AS var_a,
    CASE WHEN n_b >= 2
         THEN (nb * sqb - sb * sb) / (nb * (nb - 1.0)) END AS var_b
  FROM c
), s AS (
  SELECT *, var_a / na + var_b / nb AS se2 FROM v
)
SELECT l_returnflag, n_a, n_b, mean_a, mean_b, var_a, var_b,
  CASE WHEN se2 > 0 THEN (mean_a - mean_b) / sqrt(se2) END AS t_stat,
  CASE WHEN se2 > 0 THEN (se2 * se2) /
       ((var_a / na) * (var_a / na) / (na - 1.0)
        + (var_b / nb) * (var_b / nb) / (nb - 1.0)) END AS df_welch
FROM s
"""


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point k-means (k=8, 3 Lloyd iterations) over the
    embeddings table — the SemDeDup clustering core. Components
    quantize as floor(x * 2^20) (exact: float32 -> double is lossless
    and a power-of-two multiply only shifts the exponent), so every
    distance and centroid is pure BIGINT arithmetic; assignment is a
    zero-shuffle literal-centroid projection, the update is one
    explode shuffle reduced map-side to k*dim partials. The oracle
    unrolls the same 3 iterations as CTEs with the floor-mod identity
    standing in for Python's floor division."""
    from etl_spark_gradle_spark.operators.clustering import kmeans

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return kmeans(emb, "vec_id", "embedding", k=8, iterations=3)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-one-per-cluster: cluster the embeddings (same
    k=8 x 3 iterations as `kmeans`), then keep each cluster's row
    closest to its centroid (ties -> smallest id). One extra
    cluster-keyed window on top of the clustering plan."""
    from etl_spark_gradle_spark.operators.clustering import (
        kmeans,
        semantic_representatives,
    )

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_representatives(
        kmeans(emb, "vec_id", "embedding", k=8, iterations=3), "vec_id"
    )


def q_kmeans_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point k-means with deterministic k-means‖-style seeding
    (`seeding="spread"`): md5-hash-ranked top-32 candidate pull (one
    extra pass, partial top-L per task), greedy farthest-point over
    the candidates on the driver, then the same exact-integer Lloyd
    iterations as `kmeans`. The oracle replays the SEED CHOICE too —
    the md5 ranking and the k-1 argmax steps unroll as CTEs with the
    identical max-min-distance / smallest-id tie-break — so the gate
    covers the part of the algorithm first-k seeding never exercises
    (VERDICT r8 ask #6: first-k is degenerate on id-correlated data;
    spread is the 100 TB posture)."""
    from etl_spark_gradle_spark.operators.clustering import kmeans

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return kmeans(
        emb, "vec_id", "embedding", k=4, iterations=2,
        seeding="spread", oversample=8,
    )


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC per order priority via the Mann-Whitney rank
    identity with average ranks for ties (operators/evaluation.py):
    score = floor(o_totalprice) % 97 (deliberately coarse so ties are
    dense and the average-rank path is exercised), label =
    order-finalized. Raw rows reduce map-side to one row per distinct
    (group, score) before the rank window runs — the window input is
    score-cardinality-sized, not data-sized. Integer rank sums close
    in ONE division."""
    from etl_spark_gradle_spark.operators.evaluation import auc

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        (F.floor(F.col("o_totalprice")).cast("long") % 97).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return auc(scored, "score", "label", group_by=["o_orderpriority"])


_AUC_ORACLE = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice) AS BIGINT) % 97 AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
), per_score AS (
  SELECT o_orderpriority, s,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(pos) AS BIGINT) AS p
  FROM base GROUP BY o_orderpriority, s
), ranked AS (
  SELECT o_orderpriority, cnt, p,
         CAST(COALESCE(SUM(cnt) OVER (
           PARTITION BY o_orderpriority ORDER BY s ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum
  FROM per_score
), agg AS (
  SELECT o_orderpriority,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(p * (2 * cum + cnt + 1)) AS BIGINT) AS r2
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
       CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
         CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
           / CAST(2 * n_pos * (n - n_pos) AS DOUBLE)
       END AS auc
FROM agg
"""


def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 over orders: true label =
    o_orderstatus, 'prediction' = a deterministic totalprice rule
    (floor % 3 mapped onto the status alphabet) so the confusion
    matrix has real off-diagonal mass. One contingency pass; the
    class table derives from the bounded cell relation (full-outer on
    the class key so predict-only / label-only classes keep rows)."""
    from etl_spark_gradle_spark.operators.evaluation import (
        classification_report,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    m = F.floor(F.col("o_totalprice")).cast("long") % 3
    scored = orders.select(
        F.col("o_orderstatus").alias("label"),
        F.when(m == 0, F.lit("F"))
        .when(m == 1, F.lit("O"))
        .otherwise(F.lit("P"))
        .alias("pred"),
    )
    return classification_report(scored, "label", "pred")


_CLASSIFICATION_REPORT_ORACLE = """
WITH base AS (
  SELECT o_orderstatus AS l,
         CASE CAST(FLOOR(o_totalprice) AS BIGINT) % 3
           WHEN 0 THEN 'F' WHEN 1 THEN 'O' ELSE 'P' END AS p
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
), cells AS (
  SELECT l, p, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY l, p
), lt AS (
  SELECT l AS cls, CAST(SUM(c) AS BIGINT) AS lt FROM cells GROUP BY l
), pt AS (
  SELECT p AS cls, CAST(SUM(c) AS BIGINT) AS pt FROM cells GROUP BY p
), dg AS (
  SELECT l AS cls, c AS tp FROM cells WHERE l = p
), joined AS (
  SELECT COALESCE(lt.cls, pt.cls) AS cls,
         COALESCE(lt.lt, 0) AS lt, COALESCE(pt.pt, 0) AS pt
  FROM lt FULL OUTER JOIN pt ON lt.cls = pt.cls
), f AS (
  SELECT j.cls, CAST(COALESCE(d.tp, 0) AS BIGINT) AS tp,
         CAST(j.pt - COALESCE(d.tp, 0) AS BIGINT) AS fp,
         CAST(j.lt - COALESCE(d.tp, 0) AS BIGINT) AS fn
  FROM joined j LEFT JOIN dg d ON j.cls = d.cls
)
SELECT cls AS "class", tp, fp, fn,
       CASE WHEN tp + fp > 0
         THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         AS "precision",
       CASE WHEN tp + fn > 0
         THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
         THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END
         AS f1
FROM f
"""


def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table over orders, scored by a deterministic
    totalprice hash band with o_orderkey as the NTILE tie-break (ties
    are dense by construction — a bare score NTILE would be
    partition-order dependent, the repo determinism rule). Cumulative
    lift is the cross-multiplied single division, exact integers up
    to the one IEEE divide."""
    from etl_spark_gradle_spark.operators.evaluation import lift_table

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        F.col("o_orderkey").alias("id"),
        (F.floor(F.col("o_totalprice")).cast("long") % 1000).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return lift_table(scored, "score", "label", "id", buckets=10)


_LIFT_TABLE_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS id,
         CAST(FLOOR(o_totalprice) AS BIGINT) % 1000 AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
    AND o_orderkey IS NOT NULL
), b AS (
  SELECT NTILE(10) OVER (ORDER BY s DESC, id ASC) AS bucket, pos FROM base
), g AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM b GROUP BY bucket
), c AS (
  SELECT bucket, n, n_pos,
         CAST(SUM(n) OVER (ORDER BY bucket
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER (ORDER BY bucket
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER () AS BIGINT) AS tn,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tp
  FROM g
)
SELECT CAST(bucket AS INT) AS bucket, n, n_pos, cum_n, cum_pos,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
       CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE) AS cum_rate,
       CASE WHEN tp > 0 AND cum_n > 0 THEN
         CAST(cum_pos * tn AS DOUBLE) / CAST(cum_n * tp AS DOUBLE)
       END AS lift
FROM c
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between o_orderstatus and a synthetic second
    'rater' that copies it on 70% of keys and answers 'O' otherwise —
    the inter-annotator agreement read for label-quality audits. One
    contingency pass; marginal chance term and the kappa close are
    exact integer cross-multiplications with one division each."""
    from etl_spark_gradle_spark.operators.evaluation import cohens_kappa

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    labeled = orders.select(
        F.col("o_orderstatus").alias("rater_a"),
        F.when(F.col("o_orderkey") % 10 < 7, F.col("o_orderstatus"))
        .otherwise(F.lit("O"))
        .alias("rater_b"),
    )
    return cohens_kappa(labeled, "rater_a", "rater_b")


_COHENS_KAPPA_ORACLE = """
WITH base AS (
  SELECT o_orderstatus AS a,
         CASE WHEN o_orderkey % 10 < 7 THEN o_orderstatus ELSE 'O' END AS b
  FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderkey IS NOT NULL
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY a, b
), ra AS (
  SELECT a AS cls, CAST(SUM(c) AS BIGINT) AS ra FROM cells GROUP BY a
), rb AS (
  SELECT b AS cls, CAST(SUM(c) AS BIGINT) AS rb FROM cells GROUP BY b
), chance AS (
  SELECT CAST(SUM(COALESCE(ra.ra, 0) * COALESCE(rb.rb, 0)) AS BIGINT)
           AS chance
  FROM ra FULL OUTER JOIN rb ON ra.cls = rb.cls
), totals AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
  FROM cells
)
SELECT n, agree,
       CASE WHEN n > 0 THEN CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) END
         AS po,
       CASE WHEN n > 0 THEN CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE) END
         AS pe,
       CASE WHEN n * n - chance != 0 THEN
         CAST(n * agree - chance AS DOUBLE) / CAST(n * n - chance AS DOUBLE)
       END AS kappa
FROM totals, chance
"""


def q_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority regression-model evaluation (MAE/MSE/RMSE/bias/R²)
    of a synthetic price predictor against o_totalprice. Exact
    decimal(18,2) error moments from ONE map-side-combined
    aggregation, string-roundtrip decimal→double close, fixed-order
    statistics; RMSE is the single correctly-rounded sqrt of the
    already-agreed MSE."""
    from etl_spark_gradle_spark.operators.evaluation import (
        regression_metrics,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("y"),
        # floor()*0.5 keeps the prediction EXACTLY representable at
        # two decimals: a generic double product rounds to decimal(18,2)
        # differently across engines at half-way points (Spark
        # HALF_UP vs DuckDB's rounding of the binary expansion)
        (
            F.floor(F.col("o_totalprice")).cast("double") * F.lit(0.5)
            + F.lit(1000.0)
        ).alias("pred"),
    )
    return regression_metrics(scored, "y", "pred", ["o_orderpriority"])


_REGRESSION_METRICS_ORACLE = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS y,
         CAST(CAST(FLOOR(o_totalprice) AS DOUBLE) * CAST(0.5 AS DOUBLE)
              + 1000.0 AS DECIMAL(18,2)) AS p
  FROM orders
  WHERE o_totalprice IS NOT NULL
), agg AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(y - p) AS VARCHAR) AS DOUBLE) AS se,
         CAST(CAST(SUM(ABS(y - p)) AS VARCHAR) AS DOUBLE) AS sae,
         CAST(CAST(SUM(CAST((y - p) * (y - p) AS DECIMAL(38,4)))
              AS VARCHAR) AS DOUBLE) AS see,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS VARCHAR)
              AS DOUBLE) AS syy
  FROM base GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       sae / CAST(n AS DOUBLE) AS mae,
       see / CAST(n AS DOUBLE) AS mse,
       sqrt(see / CAST(n AS DOUBLE)) AS rmse,
       se / CAST(n AS DOUBLE) AS bias,
       CASE WHEN CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
         1.0 - (CAST(n AS DOUBLE) * see)
                 / (CAST(n AS DOUBLE) * syy - sy * sy)
       END AS r2
FROM agg
"""


def q_brier_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Brier score + expected calibration error of a
    synthetic on-grid probability (cents band of the order total,
    exactly representable at decimal(18,2)) against the finalized
    label, 20 bins on [0,1). ECE's textbook per-bin weighted gap
    collapses to Σ|Σp − pos|/N — exact decimal until ONE division —
    so Spark and the oracle agree bit-for-bit."""
    from etl_spark_gradle_spark.operators.evaluation import brier_ece

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        # k/100 for k in 0..99: ON the decimal(18,2) grid, so the
        # quantization never hits a cross-engine half-way point
        (
            (F.floor(F.col("o_totalprice")).cast("long") % 100).cast(
                "double"
            )
            / F.lit(100.0)
        ).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return brier_ece(
        scored, "score", "label", bins=20, group_by=["o_orderpriority"]
    )


_BRIER_ECE_ORACLE = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 100 AS DOUBLE)
           / 100.0 AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
), pts AS (
  SELECT o_orderpriority,
         LEAST(GREATEST(CAST(FLOOR((x - 0.0) / CAST(0.05 AS DOUBLE))
           AS INT), 0), 19) AS bin,
         CAST(x AS DECIMAL(18,2)) AS p, y
  FROM base
), perbin AS (
  SELECT o_orderpriority, bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         SUM(p) AS sp,
         SUM(CAST(CAST(p - y AS DECIMAL(19,2))
                  * CAST(p - y AS DECIMAL(19,2)) AS DECIMAL(38,4)))
           AS sqe
  FROM pts GROUP BY o_orderpriority, bin
), agg AS (
  SELECT o_orderpriority,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(CAST(SUM(sqe) AS VARCHAR) AS DOUBLE) AS tsqe,
         CAST(CAST(SUM(ABS(CAST(sp - pos AS DECIMAL(38,2))))
              AS VARCHAR) AS DOUBLE) AS tgap
  FROM perbin GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, n_bins,
       tsqe / CAST(n AS DOUBLE) AS brier,
       tgap / CAST(n AS DOUBLE) AS ece
FROM agg
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (ordered-EMD form) over customer quasi-
    identifiers (market segment × nation) against the account-balance
    band distribution — the skewness-attack check completing the
    k_anonymity → l_diversity privacy ladder. Integer numerators over
    the common n_g·N denominator, ONE division per group; t = 0.04
    returns violations at every SF (distances shrink as groups
    converge to the corpus distribution, so the threshold sits below
    the sf0.1/sf1 tail)."""
    from etl_spark_gradle_spark.operators.pii import t_closeness

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_band",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)).cast(
            "long"
        ),
    )
    return t_closeness(
        cust, ["c_mktsegment", "c_nationkey"], "bal_band", t=0.04
    ).orderBy("c_mktsegment", "c_nationkey")


_T_CLOSENESS_ORACLE = """
WITH base AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
           AS band
  FROM customer WHERE c_acctbal IS NOT NULL
), cells AS (
  SELECT c_mktsegment, c_nationkey, band,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3
), spine AS (
  SELECT band, CAST(SUM(c) AS BIGINT) AS gc FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(SUM(gc) AS BIGINT) AS grand_n,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM spine
), grp AS (
  SELECT c_mktsegment, c_nationkey, CAST(SUM(c) AS BIGINT) AS n
  FROM cells GROUP BY 1, 2
), expanded AS (
  SELECT g.c_mktsegment, g.c_nationkey, g.n, s.band, s.gc, t.grand_n, t.m,
         COALESCE(c.c, 0) AS c
  FROM grp g CROSS JOIN spine s CROSS JOIN tot t
  LEFT JOIN cells c
    ON c.c_mktsegment = g.c_mktsegment
   AND c.c_nationkey = g.c_nationkey AND c.band = s.band
), cum AS (
  SELECT c_mktsegment, c_nationkey, n, grand_n, m,
         SUM(c * grand_n - gc * n) OVER (
           PARTITION BY c_mktsegment, c_nationkey ORDER BY band
         ) AS cumdiff
  FROM expanded
), per AS (
  SELECT c_mktsegment, c_nationkey, n,
         CASE WHEN m <= 1 THEN 0.0 ELSE
           CAST(CAST(SUM(ABS(cumdiff)) AS VARCHAR) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(grand_n AS DOUBLE)
                * CAST(m - 1 AS DOUBLE))
         END AS distance
  FROM cum GROUP BY c_mktsegment, c_nationkey, n, grand_n, m
)
SELECT c_mktsegment, c_nationkey, n, distance
FROM per WHERE distance > 0.04
ORDER BY c_mktsegment, c_nationkey
"""


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (average ranks for ties) of
    lineitem quantity vs extended price — rank maps from value
    histograms + distributed prefix sums (the 2·rank integer identity
    shared with auc), exact decimal(38,0) moments, one fixed-order
    IEEE close."""
    from etl_spark_gradle_spark.operators.stats import spearman

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return spearman(li, "l_quantity", "l_extendedprice")


_SPEARMAN_ORACLE = """
WITH pts AS (
  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), hx AS (
  SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY 1
), rx AS (
  SELECT v,
         CAST(2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS BIGINT)
           AS r2
  FROM hx
), hy AS (
  SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY 1
), ry AS (
  SELECT v,
         CAST(2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS BIGINT)
           AS r2
  FROM hy
), joined AS (
  SELECT rx.r2 AS a, ry.r2 AS b
  FROM pts JOIN rx ON pts.x = rx.v JOIN ry ON pts.y = ry.v
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(a AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(b AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(a AS HUGEINT) * a) AS VARCHAR) AS DOUBLE)
           AS sxx,
         CAST(CAST(SUM(CAST(b AS HUGEINT) * b) AS VARCHAR) AS DOUBLE)
           AS syy,
         CAST(CAST(SUM(CAST(a AS HUGEINT) * b) AS VARCHAR) AS DOUBLE)
           AS sxy
  FROM joined
)
SELECT n,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
         (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
       END AS rho
FROM agg
"""


def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 over the q_ndcg retrieval shape (per-user event lists,
    deterministic pseudo-score, purchase = the relevant item):
    per-query reciprocals nano-quantized and summed exactly; queries
    whose first purchase ranks past 10 (or who never purchase) score
    0 and stay in the denominator."""
    from etl_spark_gradle_spark.operators.evaluation import mrr

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    ev = ev.where(
        F.col("event_id").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        "user_id",
        "event_id",
        ((F.col("event_id") % 997).cast("double") / F.lit(997.0)).alias(
            "score"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("rel"),
    )
    return mrr(scored, "user_id", "score", "rel", k=10, id_col="event_id")


_MRR_ORACLE = """
WITH scored AS (
  SELECT user_id, event_id,
         CAST(event_id % 997 AS DOUBLE) / 997.0 AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events
  WHERE event_id IS NOT NULL AND event_type IS NOT NULL
), ranked AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY score DESC, event_id ASC) AS r
  FROM scored
), per_q AS (
  SELECT user_id,
         CAST(MIN(CASE WHEN rel = 1 THEN r END) AS BIGINT) AS first_r
  FROM ranked GROUP BY user_id
), q AS (
  SELECT CASE WHEN first_r IS NOT NULL AND first_r <= 10 THEN 1 ELSE 0
         END AS h,
         CASE WHEN first_r IS NOT NULL AND first_r <= 10
              THEN CAST(ROUND(1e9 / CAST(first_r AS DOUBLE)) AS BIGINT)
              ELSE 0 END AS tq
  FROM per_q
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(h) AS BIGINT) AS n_hit,
       CASE WHEN COUNT(*) > 0
            THEN (CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e9)
                 / CAST(COUNT(*) AS DOUBLE) END AS mrr
FROM q
"""


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user NDCG@10 treating each user's event stream as a
    retrieval list: a deterministic pseudo-score ranks events, graded
    relevance comes from the event type (purchase 3, click 2, view 1,
    else 0). Log-weighted sums round to 9 decimals for the gate (the
    psi_drift posture); pytest pins full precision vs pure python."""
    from etl_spark_gradle_spark.operators.evaluation import ndcg

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    # match the oracle's event_type IS NOT NULL predicate — without it
    # the when-chain's .otherwise(0) would keep NULL-typed rows as
    # rel=0 while the oracle drops them (ADVICE r10)
    ev = ev.where(
        F.col("event_id").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        "user_id",
        "event_id",
        ((F.col("event_id") % 997).cast("double") / F.lit(997.0)).alias(
            "score"
        ),
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
        .cast("int")
        .alias("rel"),
    )
    return ndcg(
        scored, "user_id", "score", "rel", k=10, id_col="event_id"
    )


_NDCG_ORACLE = """
WITH scored AS (
  SELECT user_id, event_id,
         CAST(event_id % 997 AS DOUBLE) / 997.0 AS score,
         CASE event_type WHEN 'purchase' THEN 3 WHEN 'click' THEN 2
              WHEN 'view' THEN 1 ELSE 0 END AS rel
  FROM events
  WHERE event_id IS NOT NULL AND event_type IS NOT NULL
), ranked AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY score DESC, event_id ASC) AS r,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY rel DESC, event_id ASC) AS ir
  FROM scored
), agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         SUM(CASE WHEN r <= 10
                  THEN CAST(rel AS DOUBLE) / log2(r + 1) ELSE 0 END)
           AS dcg,
         SUM(CASE WHEN ir <= 10
                  THEN CAST(rel AS DOUBLE) / log2(ir + 1) ELSE 0 END)
           AS idcg
  FROM ranked GROUP BY user_id
)
SELECT user_id, n_items,
       ROUND(dcg, 9) AS dcg,
       ROUND(idcg, 9) AS idcg,
       CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 9) END AS ndcg
FROM agg
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: documents with doc_id % 19 == 0
    play the EVAL benchmark, the rest the training corpus; a training
    doc is contaminated when it shares any distinct 4-gram with an
    eval doc (n = 4 discriminates on the ~54-token synthetic docs —
    3-grams collide by chance, 5-grams only on true near-dups). The
    eval shingles broadcast; the corpus is never shuffled before the
    per-doc aggregation."""
    from etl_spark_gradle_spark.operators.corpus import decontaminate

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 19 != 0)
    ev = docs.where(F.col("doc_id") % 19 == 0)
    return decontaminate(
        train, ev, id_col="doc_id", text_col="text", n=4, min_hits=1
    )


_DECONTAMINATE_ORACLE = """
WITH tr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id % 19 <> 0 AND text IS NOT NULL
), ev AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id % 19 = 0 AND text IS NOT NULL
), tg AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(tk[i:i+3], ' ')
                               FOR i IN range(1, len(tk) - 2)])) AS g
  FROM tr
), eg AS (
  SELECT doc_id AS eval_id,
         unnest(list_distinct([array_to_string(tk[i:i+3], ' ')
                               FOR i IN range(1, len(tk) - 2)])) AS g
  FROM ev
), hits AS (
  SELECT tg.doc_id, eg.eval_id, tg.g FROM tg JOIN eg USING (g)
)
SELECT doc_id,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS overlapping_ngrams,
       CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS eval_docs_hit
FROM hits GROUP BY doc_id
HAVING COUNT(DISTINCT g) >= 1
"""


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full precision-recall curve over lineitem extended price as the
    model score (near-unique -> the distinct-threshold table is
    O(rows), forcing the distributed prefix-sum path) against the
    R-returnflag label. Integer cumulative tp/fp; per-row divisions
    only."""
    from etl_spark_gradle_spark.operators.evaluation import pr_curve

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_extendedprice").cast("double").alias("score"),
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
    )
    return pr_curve(scored, "score", "label")


_PR_CURVE_ORACLE = """
WITH pts AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), per AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM pts GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_n,
         CAST(SUM(pos) AS BIGINT) AS total_p
  FROM per
), cum AS (
  SELECT s, cnt, pos,
         CAST(SUM(cnt) OVER (ORDER BY s) AS BIGINT) AS ccnt,
         CAST(SUM(pos) OVER (ORDER BY s) AS BIGINT) AS cpos
  FROM per
), rowed AS (
  SELECT s, CAST(total_p - (cpos - pos) AS BIGINT) AS tp,
         CAST((total_n - (ccnt - cnt)) - (total_p - (cpos - pos))
              AS BIGINT) AS fp,
         CAST(cpos - pos AS BIGINT) AS fn,
         CAST(total_n - (ccnt - cnt) AS BIGINT) AS above,
         total_p
  FROM cum CROSS JOIN tot
)
SELECT s AS threshold, tp, fp, fn,
       CASE WHEN above > 0
            THEN CAST(tp AS DOUBLE) / CAST(above AS DOUBLE) END
         AS precision,
       CASE WHEN total_p > 0
            THEN CAST(tp AS DOUBLE) / CAST(total_p AS DOUBLE) END
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE)
                   / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
FROM rowed
"""


def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (AP / PR-AUC) over the same near-unique
    continuous score shape as pr_curve — the ungrouped path, so the
    cumulative tp/at-or-above counts MUST ride the distributed
    two-level prefix-sum scan (a bare Window.orderBy would
    single-partition an O(rows) distinct-score table). Per-score
    terms nano-quantized and summed exactly; one final division."""
    from etl_spark_gradle_spark.operators.evaluation import (
        average_precision,
    )

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_extendedprice").cast("double").alias("score"),
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
    )
    return average_precision(scored, "score", "label")


_AVERAGE_PRECISION_ORACLE = """
WITH pts AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), per AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM pts GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_n,
         CAST(SUM(pos) AS BIGINT) AS total_p
  FROM per
), cum AS (
  SELECT s, cnt, pos,
         CAST(SUM(cnt) OVER (ORDER BY s) AS BIGINT) AS ccnt,
         CAST(SUM(pos) OVER (ORDER BY s) AS BIGINT) AS cpos
  FROM per
), terms AS (
  SELECT pos,
         cnt,
         CASE WHEN pos > 0 THEN CAST(ROUND(
                CAST(pos AS DOUBLE)
                  * CAST(total_p - (cpos - pos) AS DOUBLE)
                  / CAST(total_n - (ccnt - cnt) AS DOUBLE)
                  * 1e9) AS BIGINT)
              ELSE 0 END AS tq
  FROM cum CROSS JOIN tot
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CASE WHEN SUM(pos) > 0
            THEN (CAST(SUM(tq) AS DOUBLE) / 1e9)
                   / CAST(SUM(pos) AS DOUBLE) END AS average_precision
FROM terms
"""


def q_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ROC curve (per-threshold tp/fp/tn/fn + tpr/fpr/Youden J)
    over the near-unique lineitem price score vs the R-returnflag
    label — same distributed prefix-sum shape as pr_curve; integer
    cumulative counts, per-row divisions only."""
    from etl_spark_gradle_spark.operators.evaluation import roc_curve

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_extendedprice").cast("double").alias("score"),
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
    )
    return roc_curve(scored, "score", "label")


_ROC_CURVE_ORACLE = """
WITH pts AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), per AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM pts GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tn_all,
         CAST(SUM(pos) AS BIGINT) AS tp_all
  FROM per
), cum AS (
  SELECT s, cnt, pos,
         CAST(SUM(cnt) OVER (ORDER BY s) AS BIGINT) AS ccnt,
         CAST(SUM(pos) OVER (ORDER BY s) AS BIGINT) AS cpos
  FROM per
), rowed AS (
  SELECT s,
         CAST(tp_all - (cpos - pos) AS BIGINT) AS tp,
         CAST((tn_all - (ccnt - cnt)) - (tp_all - (cpos - pos))
              AS BIGINT) AS fp,
         CAST(tn_all - tp_all AS BIGINT) AS neg,
         tp_all
  FROM cum CROSS JOIN tot
)
SELECT s AS threshold, tp, fp,
       CAST(neg - fp AS BIGINT) AS tn,
       CAST(tp_all - tp AS BIGINT) AS fn,
       CASE WHEN tp_all > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp_all AS DOUBLE) END AS tpr,
       CASE WHEN neg > 0
            THEN CAST(fp AS DOUBLE) / CAST(neg AS DOUBLE) END AS fpr,
       (CASE WHEN tp_all > 0
             THEN CAST(tp AS DOUBLE) / CAST(tp_all AS DOUBLE) END)
         - (CASE WHEN neg > 0
                 THEN CAST(fp AS DOUBLE) / CAST(neg AS DOUBLE) END)
         AS youden_j
FROM rowed
"""


def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation per line-status group: label = the line
    was returned (returnflag R), prediction = the deep-discount
    heuristic (discount > 5%). One conditional aggregation riding the
    scan; exact integer cells; fixed-order double close."""
    from etl_spark_gradle_spark.operators.evaluation import mcc

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_linestatus").alias("status"),
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
        (F.col("l_discount") > 0.05).cast("int").alias("pred"),
    )
    return mcc(scored, "label", "pred", ["status"])


_MCC_ORACLE = """
WITH scored AS (
  SELECT l_linestatus AS status,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS p
  FROM lineitem
), cells AS (
  SELECT status,
         CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(SUM(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS tn,
         CAST(SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS fn
  FROM scored GROUP BY status
)
SELECT status, CAST(tp + fp + tn + fn AS BIGINT) AS n, tp, fp, tn, fn,
       CASE WHEN tp + fp > 0 AND tp + fn > 0
             AND tn + fp > 0 AND tn + fn > 0
            THEN CAST(tp * tn - fp * fn AS DOUBLE)
                 / SQRT(CAST(tp + fp AS DOUBLE)
                        * CAST(tp + fn AS DOUBLE)
                        * CAST(tn + fp AS DOUBLE)
                        * CAST(tn + fn AS DOUBLE)) END AS mcc
FROM cells
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' multi-rater kappa treating each order as an item and
    its lineitems as the rating panel (category = returnflag): panel
    size inferred as the max (7 lines), non-conforming orders
    excluded and counted. Exact S1/marginal-square integer sums;
    fixed-order double close."""
    from etl_spark_gradle_spark.operators.evaluation import fleiss_kappa

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    ratings = li.select(
        F.col("l_orderkey").alias("item"),
        F.col("l_returnflag").alias("cat"),
    )
    return fleiss_kappa(ratings, "item", "cat")


_FLEISS_KAPPA_ORACLE = """
WITH cells AS (
  SELECT l_orderkey AS i, l_returnflag AS j,
         CAST(COUNT(*) AS BIGINT) AS nij
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
), items AS (
  SELECT i, CAST(SUM(nij) AS BIGINT) AS ni,
         CAST(SUM(nij * (nij - 1)) AS BIGINT) AS s1i
  FROM cells GROUP BY i
), nmax AS (SELECT CAST(MAX(ni) AS BIGINT) AS n FROM items
), kept AS (
  SELECT items.* FROM items CROSS JOIN nmax WHERE ni = n
), dropped AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items_dropped
  FROM items CROSS JOIN nmax WHERE ni <> n
), per AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(s1i) AS BIGINT) AS s1
  FROM kept
), marg AS (
  SELECT j, CAST(SUM(nij) AS HUGEINT) AS cj
  FROM cells SEMI JOIN kept ON cells.i = kept.i
  GROUP BY j
), chance AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         SUM(cj * cj) AS sc2
  FROM marg
)
SELECT n_items, n_items_dropped,
       (SELECT n FROM nmax) AS n_raters,
       n_categories,
       CAST(s1 AS DOUBLE)
         / (CAST(n_items AS DOUBLE) * CAST((SELECT n FROM nmax) AS DOUBLE)
            * (CAST((SELECT n FROM nmax) AS DOUBLE) - 1.0)) AS p_bar,
       CAST(CAST(sc2 AS VARCHAR) AS DOUBLE)
         / ((CAST(n_items AS DOUBLE) * CAST((SELECT n FROM nmax) AS DOUBLE))
            * (CAST(n_items AS DOUBLE)
               * CAST((SELECT n FROM nmax) AS DOUBLE))) AS p_e,
       (CAST(s1 AS DOUBLE)
         / (CAST(n_items AS DOUBLE) * CAST((SELECT n FROM nmax) AS DOUBLE)
            * (CAST((SELECT n FROM nmax) AS DOUBLE) - 1.0))
        - CAST(CAST(sc2 AS VARCHAR) AS DOUBLE)
         / ((CAST(n_items AS DOUBLE) * CAST((SELECT n FROM nmax) AS DOUBLE))
            * (CAST(n_items AS DOUBLE)
               * CAST((SELECT n FROM nmax) AS DOUBLE))))
       / (1.0
          - CAST(CAST(sc2 AS VARCHAR) AS DOUBLE)
            / ((CAST(n_items AS DOUBLE)
                * CAST((SELECT n FROM nmax) AS DOUBLE))
               * (CAST(n_items AS DOUBLE)
                  * CAST((SELECT n FROM nmax) AS DOUBLE)))) AS kappa
FROM per CROSS JOIN chance CROSS JOIN dropped
"""


def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland–Altman agreement between the order-header total and the
    raw detail sum (Σ extended price per order) — the header/detail
    reconciliation read, per priority: bias quantifies the average
    tax−discount wedge, the limits of agreement its spread. Exact
    decimal moments of the 2-dp difference; fixed-order closes."""
    from etl_spark_gradle_spark.operators.evaluation import (
        bland_altman,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("detail_sum")
    )
    framed = orders.join(
        detail, orders["o_orderkey"] == detail["l_orderkey"]
    ).select(
        "o_orderpriority",
        F.col("o_totalprice").alias("header"),
        "detail_sum",
    )
    return bland_altman(
        framed, "header", "detail_sum", group_by=["o_orderpriority"]
    )


_BLAND_ALTMAN_ORACLE = """
WITH detail AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS detail_sum
  FROM lineitem GROUP BY l_orderkey
), framed AS (
  SELECT o.o_orderpriority,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
              - CAST(d.detail_sum AS DECIMAL(18,2))
              AS DECIMAL(19,2)) AS diff
  FROM orders o JOIN detail d ON o.o_orderkey = d.l_orderkey
  WHERE o.o_totalprice IS NOT NULL AND d.detail_sum IS NOT NULL
), m AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(diff) AS DECIMAL(38,2)) AS sd,
         CAST(SUM(CAST(diff * diff AS DECIMAL(38,4)))
              AS DECIMAL(38,4)) AS sdd
  FROM framed GROUP BY o_orderpriority
), c AS (
  SELECT o_orderpriority, n,
         CAST(CAST(sd AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           AS bias,
         (CAST(CAST(sdd AS VARCHAR) AS DOUBLE)
          - CAST(CAST(sd AS VARCHAR) AS DOUBLE)
            * CAST(CAST(sd AS VARCHAR) AS DOUBLE)
            / CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) - 1.0) AS var_d
  FROM m
)
SELECT o_orderpriority, n,
       CASE WHEN n > 0 THEN bias END AS bias,
       CASE WHEN n > 1 AND var_d >= 0 THEN sqrt(var_d) END AS sd_diff,
       CASE WHEN n > 1 AND var_d >= 0
            THEN bias - 1.96 * sqrt(var_d) END AS loa_lo,
       CASE WHEN n > 1 AND var_d >= 0
            THEN bias + 1.96 * sqrt(var_d) END AS loa_hi
FROM c ORDER BY o_orderpriority
"""


def q_fdr_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Yekutieli FDR control over the q_fdr_bh frame —
    valid under arbitrary dependence: the threshold divides by the
    harmonic number c(m), computed from the ranked frame as an exact
    sum of nano-quantized 1/rank terms (never a float series), so
    both engines compare against the identical constant."""
    from etl_spark_gradle_spark.operators.stats import fdr_bh

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    tests = orders.select(
        F.col("o_orderkey").alias("test_id"),
        (
            ((F.col("o_orderkey") * 1103515245 + 12345) % 1000003)
            .cast("double")
            / F.lit(1000003.0)
            * F.when(
                F.col("o_orderpriority") == "1-URGENT", F.lit(0.0002)
            ).otherwise(F.lit(1.0))
        ).alias("p"),
    )
    return fdr_bh(tests, "p", "test_id", q=0.05, method="by")


_FDR_BY_ORACLE = """
WITH tests AS (
  SELECT o_orderkey AS test_id,
         CAST((o_orderkey * 1103515245 + 12345) % 1000003 AS DOUBLE)
           / 1000003.0
           * (CASE WHEN o_orderpriority = '1-URGENT'
                   THEN 0.0002 ELSE 1.0 END) AS p
  FROM orders
), ranked AS (
  SELECT test_id, p,
         CAST(row_number() OVER (ORDER BY p ASC, test_id ASC)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM tests WHERE p IS NOT NULL
), harm AS (
  SELECT CAST(SUM(CAST(ROUND(1e15 / CAST(r AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS hq
  FROM ranked
), kk AS (
  SELECT COALESCE(MAX(CASE WHEN p * m * (CAST(hq AS DOUBLE) / 1e15)
                                <= CAST(r AS DOUBLE) * 0.05
                           THEN r END), 0) AS k
  FROM ranked CROSS JOIN harm
)
SELECT test_id, p, r AS rank, m, (r <= k) AS significant
FROM ranked CROSS JOIN kk
"""


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over one synthetic p-value per
    order (LCG-derived uniform; URGENT orders carry a planted 5000x
    smaller signal so the procedure provably DISCOVERS at every SF).
    Ascending rank via the two-level scan; the p*m <= rank*q
    comparison is division-free and identical cross-engine."""
    from etl_spark_gradle_spark.operators.stats import fdr_bh

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    tests = orders.select(
        F.col("o_orderkey").alias("test_id"),
        (
            ((F.col("o_orderkey") * 1103515245 + 12345) % 1000003)
            .cast("double")
            / F.lit(1000003.0)
            * F.when(
                F.col("o_orderpriority") == "1-URGENT", F.lit(0.0002)
            ).otherwise(F.lit(1.0))
        ).alias("p"),
    )
    return fdr_bh(tests, "p", "test_id", q=0.05)


_FDR_BH_ORACLE = """
WITH tests AS (
  SELECT o_orderkey AS test_id,
         CAST((o_orderkey * 1103515245 + 12345) % 1000003 AS DOUBLE)
           / 1000003.0
           * (CASE WHEN o_orderpriority = '1-URGENT'
                   THEN 0.0002 ELSE 1.0 END) AS p
  FROM orders
), ranked AS (
  SELECT test_id, p,
         CAST(row_number() OVER (ORDER BY p ASC, test_id ASC)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM tests WHERE p IS NOT NULL
), kk AS (
  SELECT COALESCE(MAX(CASE WHEN p * m <= CAST(r AS DOUBLE) * 0.05
                           THEN r END), 0) AS k
  FROM ranked
)
SELECT test_id, p, r AS rank, m, (r <= k) AS significant
FROM ranked CROSS JOIN kk
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs |A∩B|/|A| >= 0.6 over 3-gram
    shingles — the quote/subset near-dup read Jaccard misses (a short
    doc inside a long one has tiny Jaccard, containment ~1). Exact
    inverted-index form = the oracle baseline; integer intersection
    and size counts, one division."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return dd.containment_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.6
    )


_CONTAINMENT_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(tk[i:i+2], ' ')
                        FOR i IN range(1, len(tk) - 1)]) AS s
  FROM t
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         CAST(len(a.s) AS BIGINT) AS sz_a,
         CAST(len(b.s) AS BIGINT) AS sz_b
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.s, b.s)) > 0 AND len(a.s) > 0
)
SELECT id_a, id_b, inter, sz_a, sz_b,
       CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment
FROM pairs
WHERE CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE) >= 0.6
"""


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of order totals across the five priority
    levels, per order status — exact decimal per-level moments; the
    one cross-level float accumulation closes by an ordered
    sequential fold that DuckDB replays verbatim via list_reduce
    (same operand order, bit-identical doubles)."""
    from etl_spark_gradle_spark.operators.stats import anova_f

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    return anova_f(
        orders, "o_totalprice", "o_orderpriority",
        group_by=["o_orderstatus"],
    )


_ANOVA_ORACLE = """
WITH base AS (
  SELECT o_orderstatus, o_orderpriority AS lvl,
         CAST(o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), per AS (
  SELECT o_orderstatus, lvl,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS s,
         SUM(CAST(x * x AS DECIMAL(38,4))) AS sq
  FROM base GROUP BY 1, 2
), terms AS (
  SELECT o_orderstatus, lvl, n, s, sq,
         (CAST(CAST(s AS VARCHAR) AS DOUBLE)
          * CAST(CAST(s AS VARCHAR) AS DOUBLE))
           / CAST(n AS DOUBLE) AS t
  FROM per
), agg AS (
  SELECT o_orderstatus,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k_levels,
         CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE) AS gs,
         CAST(CAST(SUM(sq) AS VARCHAR) AS DOUBLE) AS gsq,
         list_reduce(list_prepend(0.0, list(t ORDER BY lvl)),
                     (a, b) -> a + b) AS fold_a
  FROM terms GROUP BY o_orderstatus
)
SELECT o_orderstatus, n, k_levels,
       fold_a - gs * gs / CAST(n AS DOUBLE) AS ss_between,
       gsq - fold_a AS ss_within,
       CASE WHEN k_levels >= 2 AND n > k_levels AND gsq - fold_a > 0
            THEN ((fold_a - gs * gs / CAST(n AS DOUBLE))
                    / CAST(k_levels - 1 AS DOUBLE))
                 / ((gsq - fold_a) / CAST(n - k_levels AS DOUBLE))
       END AS f_stat,
       CASE WHEN k_levels >= 2 AND n > k_levels AND gsq - fold_a > 0
            THEN {p_value}
       END AS p_value
FROM agg
""".format(
    p_value=_sql_pq(
        _sql_f_sf(
            "((fold_a - gs * gs / CAST(n AS DOUBLE))"
            " / CAST(k_levels - 1 AS DOUBLE))"
            " / ((gsq - fold_a) / CAST(n - k_levels AS DOUBLE))",
            "k_levels - 1",
            "n - k_levels",
        )
    )
)


def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer post-hoc pairwise table over the q_anova frame
    (order totals across the five priority levels): 10 level pairs,
    MSE from the same ordered list_reduce fold, per-pair fixed-order
    double closes."""
    from etl_spark_gradle_spark.operators.stats import tukey_hsd

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    return tukey_hsd(orders, "o_totalprice", "o_orderpriority")


_TUKEY_HSD_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS lvl,
         CAST(o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), per AS (
  SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s,
         SUM(CAST(x * x AS DECIMAL(38,4))) AS sq
  FROM base GROUP BY 1
), terms AS (
  SELECT lvl, n, s, sq,
         (CAST(CAST(s AS VARCHAR) AS DOUBLE)
          * CAST(CAST(s AS VARCHAR) AS DOUBLE))
           / CAST(n AS DOUBLE) AS t
  FROM per
), mse_row AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(CAST(SUM(sq) AS VARCHAR) AS DOUBLE) AS gsq,
         list_reduce(list_prepend(0.0, list(t ORDER BY lvl)),
                     (a, b) -> a + b) AS fold_a
  FROM terms
), mse AS (
  SELECT CASE WHEN nn > k
              THEN (gsq - fold_a) / CAST(nn - k AS DOUBLE) END AS mse
  FROM mse_row
), pairs AS (
  SELECT a.lvl AS lvl_a, b.lvl AS lvl_b, a.n AS n_a, b.n AS n_b,
         CAST(CAST(a.s AS VARCHAR) AS DOUBLE) / CAST(a.n AS DOUBLE)
           AS mean_a,
         CAST(CAST(b.s AS VARCHAR) AS DOUBLE) / CAST(b.n AS DOUBLE)
           AS mean_b,
         mse
  FROM per a JOIN per b ON a.lvl < b.lvl CROSS JOIN mse
)
SELECT lvl_a, lvl_b, n_a, n_b, mean_a, mean_b,
       mean_a - mean_b AS diff,
       CASE WHEN mse > 0
            THEN sqrt((mse / 2.0) * (1.0 / CAST(n_a AS DOUBLE)
                                     + 1.0 / CAST(n_b AS DOUBLE))) END
         AS se,
       CASE WHEN mse > 0
            THEN abs(mean_a - mean_b)
                 / sqrt((mse / 2.0) * (1.0 / CAST(n_a AS DOUBLE)
                                       + 1.0 / CAST(n_b AS DOUBLE))) END
         AS q_stat
FROM pairs
"""


def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha treating a customer's per-priority order
    spend as a 3-item scale (urgent/high/medium) — listwise deletion
    keeps customers rated on all three; item values are EXACT decimal
    sums (a float avg fixture would diverge cross-engine before
    quantization); literal item-order numerator additions."""
    from etl_spark_gradle_spark.operators.stats import cronbach_alpha

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    wide = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", dec)
        ).alias("i1"),
        F.sum(
            F.when(F.col("o_orderpriority") == "2-HIGH", dec)
        ).alias("i2"),
        F.sum(
            F.when(F.col("o_orderpriority") == "3-MEDIUM", dec)
        ).alias("i3"),
    )
    return cronbach_alpha(wide, ["i1", "i2", "i3"])


_CRONBACH_ALPHA_ORACLE = """
WITH wide AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS i1,
         SUM(CASE WHEN o_orderpriority = '2-HIGH'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS i2,
         SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS i3
  FROM orders GROUP BY o_custkey
), base AS (
  SELECT CAST(i1 AS DECIMAL(18,2)) AS x1,
         CAST(i2 AS DECIMAL(18,2)) AS x2,
         CAST(i3 AS DECIMAL(18,2)) AS x3
  FROM wide
  WHERE i1 IS NOT NULL AND i2 IS NOT NULL AND i3 IS NOT NULL
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x1) AS s1, SUM(CAST(x1 * x1 AS DECIMAL(38,4))) AS q1,
         SUM(x2) AS s2, SUM(CAST(x2 * x2 AS DECIMAL(38,4))) AS q2,
         SUM(x3) AS s3, SUM(CAST(x3 * x3 AS DECIMAL(38,4))) AS q3,
         SUM(CAST(CAST(x1 + x2 AS DECIMAL(18,2)) + x3
                  AS DECIMAL(18,2))) AS st,
         SUM(CAST(CAST(CAST(x1 + x2 AS DECIMAL(18,2)) + x3
                       AS DECIMAL(18,2))
                  * CAST(CAST(x1 + x2 AS DECIMAL(18,2)) + x3
                         AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS qt
  FROM base
), t1 AS (
  SELECT n,
         CAST(CAST(n AS DECIMAL(38,4)) * q1
              - CAST(s1 * s1 AS DECIMAL(38,4)) AS DECIMAL(38,4)) AS v1,
         CAST(CAST(n AS DECIMAL(38,4)) * q2
              - CAST(s2 * s2 AS DECIMAL(38,4)) AS DECIMAL(38,4)) AS v2,
         CAST(CAST(n AS DECIMAL(38,4)) * q3
              - CAST(s3 * s3 AS DECIMAL(38,4)) AS DECIMAL(38,4)) AS v3,
         CAST(CAST(n AS DECIMAL(38,4)) * qt
              - CAST(st * st AS DECIMAL(38,4)) AS DECIMAL(38,4))
           AS total_num
  FROM m
), nums AS (
  SELECT n,
         CAST(CAST(v1 + v2 AS DECIMAL(38,4)) + v3 AS DECIMAL(38,4))
           AS items_num,
         total_num
  FROM t1
)
SELECT n, CAST(3 AS BIGINT) AS k_items,
       CASE WHEN n >= 2
            THEN CAST(CAST(items_num AS VARCHAR) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END
         AS item_var_sum,
       CASE WHEN n >= 2
            THEN CAST(CAST(total_num AS VARCHAR) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END
         AS total_var,
       CASE WHEN n >= 2
             AND CAST(CAST(total_num AS VARCHAR) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
            THEN 1.5 * (1.0
                 - (CAST(CAST(items_num AS VARCHAR) AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                   / (CAST(CAST(total_num AS VARCHAR) AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
       END AS alpha
FROM nums
"""


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g for extended price between line statuses
    F and O, per return flag — the effect-size companion to
    q_welch_ttest; identical moment shape, fixed-order close."""
    from etl_spark_gradle_spark.operators.stats import cohens_d

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return cohens_d(
        li, "l_extendedprice", "l_linestatus", side_a="F", side_b="O",
        group_by=["l_returnflag"],
    )


_COHENS_D_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(CASE WHEN l_linestatus = 'F'
                          AND l_extendedprice IS NOT NULL THEN 1 END)
              AS BIGINT) AS n_a,
         SUM(CASE WHEN l_linestatus = 'F'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS sa,
         SUM(CASE WHEN l_linestatus = 'F'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))
                            AS DECIMAL(38,4)) END) AS qa,
         CAST(COUNT(CASE WHEN l_linestatus = 'O'
                          AND l_extendedprice IS NOT NULL THEN 1 END)
              AS BIGINT) AS n_b,
         SUM(CASE WHEN l_linestatus = 'O'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS sb,
         SUM(CASE WHEN l_linestatus = 'O'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))
                            AS DECIMAL(38,4)) END) AS qb
  FROM lineitem GROUP BY l_returnflag
), c AS (
  SELECT l_returnflag, n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS dsa,
         CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS dsb,
         CAST(CAST(qa AS VARCHAR) AS DOUBLE) AS dqa,
         CAST(CAST(qb AS VARCHAR) AS DOUBLE) AS dqb
  FROM m
), v AS (
  SELECT l_returnflag, n_a, n_b,
         CASE WHEN n_a > 0 THEN dsa / na END AS mean_a,
         CASE WHEN n_b > 0 THEN dsb / nb END AS mean_b,
         CASE WHEN n_a >= 2
              THEN (na * dqa - dsa * dsa) / (na * (na - 1.0)) END AS var_a,
         CASE WHEN n_b >= 2
              THEN (nb * dqb - dsb * dsb) / (nb * (nb - 1.0)) END AS var_b,
         na, nb
  FROM c
), p AS (
  SELECT *,
         CASE WHEN n_a >= 2 AND n_b >= 2
              THEN ((na - 1.0) * var_a + (nb - 1.0) * var_b)
                   / (na + nb - 2.0) END AS pooled_var
  FROM v
)
SELECT l_returnflag, n_a, n_b, mean_a, mean_b, pooled_var,
       CASE WHEN pooled_var > 0
            THEN (mean_a - mean_b) / sqrt(pooled_var) END AS d,
       (CASE WHEN pooled_var > 0
             THEN (mean_a - mean_b) / sqrt(pooled_var) END)
         * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)) AS g
FROM p
"""


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over orders as paired units with three binary
    'treatments' derived from their lineitems (any deep discount /
    any return / any high tax) — exact integer column and row
    moments, one final division."""
    from etl_spark_gradle_spark.operators.stats import cochran_q

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.max((F.col("l_discount") > 0.05).cast("int")).alias("f1"),
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("f2"),
        F.max((F.col("l_tax") > 0.04).cast("int")).alias("f3"),
    )
    return cochran_q(per_order, ["f1", "f2", "f3"])


_COCHRAN_Q_ORACLE = """
WITH per AS (
  SELECT l_orderkey,
         MAX(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS f1,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS f2,
         MAX(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS f3
  FROM lineitem GROUP BY l_orderkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f1) AS BIGINT) AS c0,
         CAST(SUM(f2) AS BIGINT) AS c1,
         CAST(SUM(f3) AS BIGINT) AS c2,
         CAST(SUM(f1 + f2 + f3) AS BIGINT) AS sr,
         CAST(SUM((f1 + f2 + f3) * (f1 + f2 + f3)) AS BIGINT) AS srr
  FROM per
)
SELECT n, CAST(3 AS BIGINT) AS k_treatments, CAST(2 AS BIGINT) AS df,
       CASE WHEN 3 * sr - srr > 0
            THEN (2.0 * CAST(3 * (c0 * c0 + c1 * c1 + c2 * c2)
                             - (c0 + c1 + c2) * (c0 + c1 + c2)
                             AS DOUBLE))
                 / CAST(3 * sr - srr AS DOUBLE) END AS q_stat
FROM m
"""


def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test treating each multi-line order as a block
    and its first three line positions as treatments (quantity per
    position): within-row doubled ranks are pure Catalyst
    comparisons; the tie-corrected T1 is one division of exact
    integers."""
    from etl_spark_gradle_spark.operators.stats import friedman

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_orderkey").agg(
        F.max(
            F.when(F.col("l_linenumber") == 1, F.col("l_quantity"))
        ).alias("q1"),
        F.max(
            F.when(F.col("l_linenumber") == 2, F.col("l_quantity"))
        ).alias("q2"),
        F.max(
            F.when(F.col("l_linenumber") == 3, F.col("l_quantity"))
        ).alias("q3"),
    )
    return friedman(wide, ["q1", "q2", "q3"])


_FRIEDMAN_ORACLE = """
WITH wide AS (
  SELECT l_orderkey,
         MAX(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS q1,
         MAX(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS q2,
         MAX(CASE WHEN l_linenumber = 3 THEN l_quantity END) AS q3
  FROM lineitem GROUP BY l_orderkey
), base AS (
  SELECT q1, q2, q3 FROM wide
  WHERE q1 IS NOT NULL AND q2 IS NOT NULL AND q3 IS NOT NULL
), ranked AS (
  SELECT
    2*((CASE WHEN q1<q1 THEN 1 ELSE 0 END)+(CASE WHEN q2<q1 THEN 1 ELSE 0 END)+(CASE WHEN q3<q1 THEN 1 ELSE 0 END))
      + (CASE WHEN q1=q1 THEN 1 ELSE 0 END)+(CASE WHEN q2=q1 THEN 1 ELSE 0 END)+(CASE WHEN q3=q1 THEN 1 ELSE 0 END) + 1 AS r1,
    2*((CASE WHEN q1<q2 THEN 1 ELSE 0 END)+(CASE WHEN q2<q2 THEN 1 ELSE 0 END)+(CASE WHEN q3<q2 THEN 1 ELSE 0 END))
      + (CASE WHEN q1=q2 THEN 1 ELSE 0 END)+(CASE WHEN q2=q2 THEN 1 ELSE 0 END)+(CASE WHEN q3=q2 THEN 1 ELSE 0 END) + 1 AS r2,
    2*((CASE WHEN q1<q3 THEN 1 ELSE 0 END)+(CASE WHEN q2<q3 THEN 1 ELSE 0 END)+(CASE WHEN q3<q3 THEN 1 ELSE 0 END))
      + (CASE WHEN q1=q3 THEN 1 ELSE 0 END)+(CASE WHEN q2=q3 THEN 1 ELSE 0 END)+(CASE WHEN q3=q3 THEN 1 ELSE 0 END) + 1 AS r3
  FROM base
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r1) AS BIGINT) AS t0,
         CAST(SUM(r2) AS BIGINT) AS t1,
         CAST(SUM(r3) AS BIGINT) AS t2,
         CAST(SUM(r1*r1 + r2*r2 + r3*r3) AS BIGINT) AS s2
  FROM ranked
), c AS (
  SELECT n,
         CAST(CAST(CAST(CAST(t0 AS HUGEINT)*t0 AS HUGEINT)
              + CAST(CAST(t1 AS HUGEINT)*t1 AS HUGEINT) AS HUGEINT)
              + CAST(CAST(t2 AS HUGEINT)*t2 AS HUGEINT) AS HUGEINT)
           AS sum_r2sq,
         CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * 48 AS HUGEINT)
           AS nnk,
         CAST(CAST(n AS HUGEINT) * 48 AS HUGEINT) AS nk,
         s2
  FROM m
)
SELECT n, CAST(3 AS BIGINT) AS k_treatments, CAST(2 AS BIGINT) AS df,
       CASE WHEN CAST(s2 AS HUGEINT) - nk > 0
            THEN (2.0 * CAST(CAST(sum_r2sq - nnk AS VARCHAR) AS DOUBLE))
                 / CAST(CAST(CAST(s2 AS HUGEINT) - nk AS VARCHAR)
                        AS DOUBLE) END AS chi2_friedman
FROM c
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H of order totals across the five priority
    levels — the nonparametric twin of q_anova over the same frame.
    Near-unique totals make the pooled rank histogram O(rows), so the
    cumulative ranks MUST ride the distributed prefix-sum scan; rank
    sums and the tie term stay exact integers; the cross-level fold
    replays via list_reduce."""
    from etl_spark_gradle_spark.operators.stats import kruskal_wallis

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    return kruskal_wallis(orders, "o_totalprice", "o_orderpriority")


_KRUSKAL_WALLIS_ORACLE = """
WITH pts AS (
  SELECT o_totalprice AS v, o_orderpriority AS lvl FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), hist AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY 1
), rm AS (
  SELECT v,
         CAST(2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS BIGINT)
           AS r2,
         CAST(c AS HUGEINT) * c * c - c AS tie
  FROM hist
), cells AS (
  SELECT lvl, v, CAST(COUNT(*) AS BIGINT) AS cv FROM pts GROUP BY 1, 2
), per AS (
  SELECT lvl, CAST(SUM(cv) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(cv AS HUGEINT) * r2) AS VARCHAR) AS DOUBLE)
           AS s2
  FROM cells JOIN rm USING (v) GROUP BY lvl
), terms AS (
  SELECT lvl, n, (s2 * s2) / (4.0 * CAST(n AS DOUBLE)) AS t FROM per
), agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k_levels,
         list_reduce(list_prepend(0.0, list(t ORDER BY lvl)),
                     (a, b) -> a + b) AS fold_a
  FROM terms
), ties AS (
  SELECT CAST(CAST(SUM(tie) AS VARCHAR) AS DOUBLE) AS ts FROM rm
)
SELECT n, k_levels,
       CASE WHEN k_levels >= 2
             AND 1.0 - ts / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0
            THEN (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)))
                   * fold_a - 3.0 * (CAST(n AS DOUBLE) + 1)
       END AS h,
       CASE WHEN k_levels >= 2
             AND 1.0 - ts / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0
            THEN ((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)))
                    * fold_a - 3.0 * (CAST(n AS DOUBLE) + 1))
                 / (1.0 - ts / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
       END AS h_adj,
       CASE WHEN k_levels >= 2
             AND 1.0 - ts / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0
            THEN {p_value}
       END AS p_value
FROM agg CROSS JOIN ties
""".format(
    p_value=_sql_pq(
        _sql_chi2_sf(
            "((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)))"
            " * fold_a - 3.0 * (CAST(n AS DOUBLE) + 1))"
            " / (1.0 - ts / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))",
            "k_levels - 1",
        )
    )
)







def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of a synthetic model score (order
    total's fractional band) against the finalized label, 20 bins.
    Spark runs the driver-side pool-adjacent-violators sweep over the
    binned exact counts; the oracle replays the SAME function through
    the minimax characterization iso[i] = max_{j<=i} min_{k>=i}
    (sum pos / sum n over bins j..k) — a pure-SQL triple join over the
    <= 20-row bin table. Equal rationals round to equal doubles, so
    the two formulations hash identically."""
    from etl_spark_gradle_spark.operators.evaluation import (
        isotonic_calibration,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        (
            (F.floor(F.col("o_totalprice")).cast("long") % 1000).cast(
                "double"
            )
            / F.lit(1000.0)
        ).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return isotonic_calibration(scored, "score", "label", bins=20)


_ISOTONIC_ORACLE = """
WITH base AS (
  SELECT CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 1000 AS DOUBLE)
           / 1000.0 AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
), binned AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((x - 0.0) / CAST(0.05 AS DOUBLE))
           AS INT), 0), 19)
           AS bin, pos
  FROM base
), perbin AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS np
  FROM binned GROUP BY bin
), seq AS (
  SELECT bin, n, np,
         CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i
  FROM perbin
), iv AS (
  SELECT j.i AS j, k.i AS k,
         (SELECT CAST(SUM(s.n) AS BIGINT) FROM seq s
          WHERE s.i BETWEEN j.i AND k.i) AS sn,
         (SELECT CAST(SUM(s.np) AS BIGINT) FROM seq s
          WHERE s.i BETWEEN j.i AND k.i) AS sp
  FROM seq j, seq k WHERE j.i <= k.i
), vals AS (
  SELECT t.i AS i, iv.j AS j,
         MIN(CAST(iv.sp AS DOUBLE) / CAST(iv.sn AS DOUBLE)) AS mn
  FROM seq t JOIN iv ON iv.j <= t.i AND iv.k >= t.i
  GROUP BY t.i, iv.j
), iso AS (
  SELECT i, MAX(mn) AS rate_iso FROM vals GROUP BY i
)
SELECT CAST(seq.bin AS INT) AS bin,
       seq.bin * CAST(0.05 AS DOUBLE) AS bin_lo,
       (seq.bin + 1) * CAST(0.05 AS DOUBLE) AS bin_hi,
       seq.n, seq.np AS n_pos,
       CAST(seq.np AS DOUBLE) / CAST(seq.n AS DOUBLE) AS rate_raw,
       iso.rate_iso
FROM seq JOIN iso ON seq.i = iso.i
"""


def _kmeans_oracle(
    k: int = 8, iterations: int = 3, scale_bits: int = 20,
    representatives: bool = False,
    seeding: str = "first_k", oversample: int = 8, seed_salt: str = "",
) -> str:
    scale = float(2 ** scale_bits)
    ctes = [
        # point components, quantized exactly like Spark's
        # floor(cast(float as double) * 2^20)
        "pdim AS (SELECT vec_id, unnest(range(len(embedding))) AS dim, "
        f"CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {scale!r}) AS BIGINT) AS v "
        "FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL "
        "AND len(list_filter(embedding, x -> x IS NULL)) = 0)",
    ]
    if seeding == "spread":
        # replay clustering._spread_seeds verbatim: md5-ranked top-L
        # candidate pull, then the greedy farthest-point unrolled as
        # k-1 argmax steps (max min-distance, ties -> smaller id) —
        # all integer arithmetic on the quantized components, so the
        # seed CHOICE (not just the Lloyd iterations) is replayed
        L = max(k * max(oversample, 1), k)
        rank = f"md5(CAST(vec_id AS VARCHAR) || '{seed_salt}')"
        ctes += [
            f"cands AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM pdim) "
            f"ORDER BY {rank}, vec_id LIMIT {L})",
            "cdim AS (SELECT c.vec_id, p.dim, p.v FROM cands c "
            "JOIN pdim p USING (vec_id))",
            f"ch0 AS (SELECT vec_id FROM cands ORDER BY {rank}, vec_id LIMIT 1)",
        ]
        for i in range(1, k):
            prev = f"ch{i - 1}"
            ctes += [
                f"sd{i} AS (SELECT pa.vec_id AS cand, pc.vec_id AS ch, "
                "CAST(SUM((pa.v - pc.v) * (pa.v - pc.v)) AS BIGINT) AS dd "
                "FROM cdim pa JOIN cdim pc ON pa.dim = pc.dim "
                f"WHERE pc.vec_id IN (SELECT vec_id FROM {prev}) "
                f"AND pa.vec_id NOT IN (SELECT vec_id FROM {prev}) "
                "GROUP BY pa.vec_id, pc.vec_id)",
                f"pick{i} AS (SELECT cand AS vec_id FROM "
                f"(SELECT cand, MIN(dd) AS mind FROM sd{i} GROUP BY cand) "
                "ORDER BY mind DESC, cand ASC LIMIT 1)",
                f"ch{i} AS (SELECT vec_id FROM {prev} "
                f"UNION ALL SELECT vec_id FROM pick{i})",
            ]
        ctes += [
            "ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 "
            f"AS cluster FROM ch{k - 1})",
        ]
    else:
        ctes += [
            f"ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster "
            f"FROM (SELECT DISTINCT vec_id FROM pdim ORDER BY vec_id LIMIT {k}))",
        ]
    ctes += [
        "cent0 AS (SELECT i.cluster, p.dim, p.v FROM ids i JOIN pdim p USING (vec_id))",
    ]
    for i in range(1, iterations + 1):
        prev = f"cent{i - 1}"
        ctes += [
            f"dist{i} AS (SELECT p.vec_id, c.cluster, "
            "CAST(SUM((p.v - c.v) * (p.v - c.v)) AS BIGINT) AS dist "
            f"FROM pdim p JOIN {prev} c ON p.dim = c.dim "
            "GROUP BY p.vec_id, c.cluster)",
            f"asg{i} AS (SELECT vec_id, cluster, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn "
            f"FROM dist{i})",
            f"sums{i} AS (SELECT a.cluster, p.dim, "
            "CAST(SUM(p.v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n "
            f"FROM asg{i} a JOIN pdim p ON a.vec_id = p.vec_id AND a.rn = 1 "
            "GROUP BY a.cluster, p.dim)",
            # floor division via the floor-mod identity (SQL // truncates
            # toward zero; Python // floors — sums can be negative)
            f"cent{i} AS (SELECT c.cluster, c.dim, CAST(COALESCE("
            "(s.s - (((s.s % s.n) + s.n) % s.n)) // s.n, c.v) AS BIGINT) AS v "
            f"FROM {prev} c LEFT JOIN sums{i} s "
            "ON c.cluster = s.cluster AND c.dim = s.dim)",
        ]
    ctes += [
        "fdist AS (SELECT p.vec_id, c.cluster, "
        "CAST(SUM((p.v - c.v) * (p.v - c.v)) AS BIGINT) AS dist "
        f"FROM pdim p JOIN cent{iterations} c ON p.dim = c.dim "
        "GROUP BY p.vec_id, c.cluster)",
        "fasg AS (SELECT vec_id, cluster, dist, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn "
        "FROM fdist)",
        "assigned AS (SELECT vec_id, CAST(cluster AS INT) AS cluster, "
        "dist AS dist_int FROM fasg WHERE rn = 1)",
    ]
    if representatives:
        final = (
            "SELECT cluster, vec_id, dist_int FROM (SELECT *, "
            "row_number() OVER (PARTITION BY cluster ORDER BY dist_int, vec_id)"
            " AS rrn FROM assigned) WHERE rrn = 1"
        )
    else:
        final = "SELECT vec_id, cluster, dist_int FROM assigned"
    return "WITH " + ",\n".join(ctes) + "\n" + final


def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from a seed set over the supplier↔part co-supply
    graph (undirected): nation-0 suppliers at 0, their parts at 1,
    co-suppliers of those parts at 2, those suppliers' other parts at
    3 — the "link distance from trusted sources" curation signal.
    Integer distances are partition-order-free; the oracle unrolls
    the same 3 frontier expansions as min-over-union CTEs."""
    from etl_spark_gradle_spark.operators.graph import bfs_distances

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    edges = li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    seeds = sup.where(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias("seed")
    )
    return bfs_distances(
        edges, "src", "dst", seeds, "seed", max_hops=3, directed=False
    )


def _bfs_oracle(max_hops: int = 3) -> str:
    ctes = [
        "e0 AS (SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS s, "
        "'p:' || CAST(l_partkey AS VARCHAR) AS t FROM lineitem)",
        "e AS (SELECT s, t FROM e0 UNION SELECT t AS s, s AS t FROM e0)",
        "d0 AS (SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node, "
        "CAST(0 AS INT) AS dist FROM supplier WHERE s_nationkey = 0)",
    ]
    for h in range(1, max_hops + 1):
        prev = f"d{h - 1}"
        ctes.append(
            f"d{h} AS (SELECT node, CAST(MIN(dist) AS INT) AS dist FROM ("
            f"SELECT node, dist FROM {prev} "
            f"UNION ALL SELECT e.t AS node, {h} AS dist "
            f"FROM {prev} f JOIN e ON f.node = e.s WHERE f.dist = {h - 1}"
            ") GROUP BY node)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist FROM d{max_hops}"
    )


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules (support/confidence/lift) over
    order baskets with part brands as items — the classic
    market-basket closure. All three metrics are single IEEE
    divisions of exact integer basket counts in a pinned operand
    order (lift = (pair/ant)/(cons/total)), so the doubles hash
    bit-identical against the full SQL replay."""
    from etl_spark_gradle_spark.operators.events import association_rules

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    bi = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return association_rules(bi, "basket", "item", min_support=1)


_ASSOCIATION_RULES_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, p_brand AS i
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IS NOT NULL
), ic AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS ib FROM bi GROUP BY i
), tot AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM bi
), pairs AS (
  SELECT x.i AS ia, y.i AS ic2, CAST(COUNT(*) AS BIGINT) AS pb
  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
  GROUP BY x.i, y.i
), directed AS (
  SELECT ia AS a, ic2 AS c, pb FROM pairs
  UNION ALL
  SELECT ic2 AS a, ia AS c, pb FROM pairs
)
SELECT d.a AS antecedent,
       d.c AS consequent,
       d.pb AS pair_baskets,
       ia.ib AS antecedent_baskets,
       ca.ib AS consequent_baskets,
       t.n AS n_baskets,
       CAST(d.pb AS DOUBLE) / CAST(t.n AS DOUBLE) AS support,
       CAST(d.pb AS DOUBLE) / CAST(ia.ib AS DOUBLE) AS confidence,
       (CAST(d.pb AS DOUBLE) / CAST(ia.ib AS DOUBLE))
         / (CAST(ca.ib AS DOUBLE) / CAST(t.n AS DOUBLE)) AS lift
FROM directed d
JOIN ic ia ON d.a = ia.i
JOIN ic ca ON d.c = ca.i
CROSS JOIN tot t
"""


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term frequencies over the documents corpus
    (sklearn HashingVectorizer / MLlib HashingTF semantics, 64
    buckets): sparse long form (doc_id, feature, tf) with the bucket
    from an engine-portable md5-prefix hash — no fitted vocabulary,
    the property that lets it ride streaming/incremental paths
    unchanged. One map-side-combined shuffle on (doc, feature)."""
    from etl_spark_gradle_spark.operators.features import feature_hash

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return feature_hash(docs, "doc_id", "text", n_features=64)


_FEATURE_HASH_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         lower(unnest(
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         )) AS token
  FROM documents
)
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5('fh:' || token), 1, 8)) AS BIGINT) % 64
            AS BIGINT) AS feature,
       CAST(COUNT(*) AS BIGINT) AS tf
FROM toks
GROUP BY doc_id, feature
"""


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: RFM customer segmentation — per-customer
    recency (days since last order vs the corpus max date), frequency
    (order count), monetary (EXACT decimal spend, closed to double via
    the string round-trip), then ntile(5) quintile scores with
    custkey tiebreaks so the ranking is total and engine-independent.

    r10 scale rewrite: three global ``ntile().over(orderBy(...))``
    windows each funneled the customer table through one task. Now a
    FUSED three-order two-level rank scan: ONE multi-column
    ``approxQuantile`` job yields range split points for all three
    metrics (ASC orders mirror through negation, custkey-ASC is every
    tiebreak), ONE exploded (metric, _pid) count job yields all three
    literal offset tables (≤ 3·P rows), and the three per-_pid
    ``row_number`` windows evaluate in a single pass over the frame —
    rank = offset + local row_number, bucket = the closed-form
    ``ntile_from_rank``. No joins, no single-partition windows,
    values identical to the old plan."""
    from pyspark.sql import Window as W

    from etl_spark_gradle_spark.operators.evaluation import (
        ntile_from_rank,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_mon"),
    )
    gmax = orders.select(
        F.max(F.col("o_orderdate").cast("date")).alias("_gmax")
    )
    base = per.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff(F.col("_gmax"), F.col("_last")).cast("long").alias(
            "recency_days"
        ),
        "frequency",
        F.col("_mon").cast("string").cast("double").alias("monetary"),
    )
    # DESC-order proxies: double casts are exact (longs < 2^53) and
    # order-preserving, so (proxy desc, custkey asc) reproduces each
    # original ntile order; one materialization feeds every job below
    metrics = {"r": "-recency_days", "f": "frequency", "m": "monetary"}
    wide = base.select(
        "*",
        *[
            F.expr(e).cast("double").alias(f"_s_{k}")
            for k, e in metrics.items()
        ],
    ).localCheckpoint(eager=True)
    P = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    probs = [i / P for i in range(1, P)] or [0.5]
    # ONE quantile job covers all three order columns
    all_bounds = wide.approxQuantile(
        [f"_s_{k}" for k in metrics], probs, max(0.0001, 1.0 / (8 * P))
    )
    pid_exprs = {}
    for (k, _), bs in zip(metrics.items(), all_bounds):
        bs = sorted(set(bs))
        if len(bs) > 1:
            arr = F.array(*[F.lit(float(b)) for b in bs])
            pid_exprs[k] = F.size(
                F.filter(arr, lambda b: b >= F.col(f"_s_{k}"))
            )
        else:  # degenerate distribution: one range
            pid_exprs[k] = F.lit(0)
    tagged = wide.select(
        "*", *[pid_exprs[k].alias(f"_pid_{k}") for k in metrics]
    )
    # ONE count job yields every metric's per-range totals (≤ 3·P rows)
    cnt_rows = (
        tagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("m"),
                            F.col(f"_pid_{k}").alias("p"),
                        )
                        for k in metrics
                    ]
                )
            ).alias("x")
        )
        .groupBy("x.m", "x.p")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    cnts: dict[str, dict[int, int]] = {k: {} for k in metrics}
    for row in cnt_rows:
        cnts[row["m"]][row["p"]] = row["c"]
    n_total = sum(cnts["r"].values())
    score_cols = {}
    for k in metrics:
        offs, acc = [], 0
        for p in range(max(cnts[k], default=0) + 1):
            offs.append(acc)
            acc += cnts[k].get(p, 0)
        off_arr = F.array(*[F.lit(int(o)) for o in offs])
        w = W.partitionBy(f"_pid_{k}").orderBy(
            F.col(f"_s_{k}").desc(), F.col("o_custkey").asc()
        )
        rank = (
            F.element_at(off_arr, F.col(f"_pid_{k}") + 1)
            + F.row_number().over(w)
        ).cast("long")
        score_cols[k] = ntile_from_rank(
            rank, F.lit(int(n_total)), 5
        ).cast("int")
    scored = tagged.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        score_cols["r"].alias("r"),
        score_cols["f"].alias("f"),
        score_cols["m"].alias("m"),
    )
    return scored.select(
        "*",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("long")
        .alias("rfm_segment"),
    )


_RFM_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS mon
  FROM orders GROUP BY o_custkey
), g AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS gmax FROM orders
), b AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_d, gmax) AS BIGINT) AS recency_days,
         frequency,
         CAST(CAST(mon AS VARCHAR) AS DOUBLE) AS monetary
  FROM per CROSS JOIN g
), scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
              AS INT) AS r,
         CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
              AS INT) AS f,
         CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
              AS INT) AS m
  FROM b
)
SELECT o_custkey, recency_days, frequency, monetary, r, f, m,
       CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment
FROM scored
"""


def q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: revenue concentration (Pareto / ABC
    analysis) by supplier — exact decimal revenue per supplier, rank,
    cumulative revenue share, and the top-80% flag. Cumulative sums
    stay DECIMAL end to end (float running sums diverge cross-engine,
    the documented segment-tree-vs-sequential hazard); only the final
    share closes to double through the string round-trip.

    r10 scale rewrite: the old global ``Window.orderBy`` rank/cumsum/
    total funneled the supplier table (10K·SF rows) through ONE task.
    Now rank = ``_global_rank_desc`` (two-level range-bucketed scan),
    the cumulative revenue = decimal-exact ``_prefix_sums`` over that
    unique rank, and the total attaches as a 1-row broadcast — every
    stage P-way parallel, output values identical."""
    from etl_spark_gradle_spark.operators.evaluation import (
        _global_rank_desc,
    )
    from etl_spark_gradle_spark.operators.stats import _prefix_sums

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
                " AS DECIMAL(18,4))"
            )
        ).alias("_rev")
    )
    pts = rev.select(
        F.col("_rev").alias("_s"), F.col("l_suppkey").alias("_id")
    )
    # rank over (rev desc, suppkey asc); _global_rank_desc pins pts,
    # so the total below reuses the same materialized relation
    ranked = _global_rank_desc(pts)
    cum = _prefix_sums(
        ranked.select("_s", "_id", "_rank"), "_rank", ["_s"]
    )
    total = ranked.agg(F.sum("_s").alias("_tot"))
    share = F.col("cum__s").cast("string").cast("double") / F.col(
        "_tot"
    ).cast("string").cast("double")
    return cum.crossJoin(F.broadcast(total)).select(
        F.col("_id").alias("l_suppkey"),
        F.col("_s").cast("string").cast("double").alias("revenue"),
        F.col("_rank").cast("int").alias("rev_rank"),
        share.alias("cum_share"),
        (share <= 0.8).alias("is_top80"),
    )


_PARETO_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))
             AS DECIMAL(18,4))) AS r
  FROM lineitem GROUP BY l_suppkey
), w AS (
  SELECT l_suppkey,
         r,
         row_number() OVER (ORDER BY r DESC, l_suppkey ASC) AS rev_rank,
         SUM(r) OVER (ORDER BY r DESC, l_suppkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(r) OVER () AS tot
  FROM rev
)
SELECT l_suppkey,
       CAST(CAST(r AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(rev_rank AS INT) AS rev_rank,
       CAST(CAST(cum AS VARCHAR) AS DOUBLE)
         / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS cum_share,
       (CAST(CAST(cum AS VARCHAR) AS DOUBLE)
         / CAST(CAST(tot AS VARCHAR) AS DOUBLE)) <= 0.8 AS is_top80
FROM w
"""


def q_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events feed (30-minute
    inactivity gap, event_id as the total-order tiebreak), rolled up
    to one row per session with integer epoch-micro bounds and a
    duration closed by ONE fixed division — the batch gaps-and-islands
    counterpart of the streaming sessionizer. One user-keyed shuffle
    carries the boundary flags, the running session index AND the
    per-session rollup."""
    from etl_spark_gradle_spark.operators.events import sessionize

    _prep(spark)
    events = _t(spark, sf_dir, "events")
    return sessionize(
        events, "user_id", "ts", gap_seconds=1800,
        tiebreak_col="event_id", output="sessions",
    )


_BATCH_SESSIONIZE_ORACLE = """
WITH b AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS tn
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), f AS (
  SELECT user_id, event_id, ts, tn,
         CASE WHEN lag(tn) OVER w IS NULL
                OR tn - lag(tn) OVER w > 1800000000
              THEN 1 ELSE 0 END AS nf
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, tn,
         CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts ASC,
                            event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM f
)
SELECT user_id, session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(tn) AS BIGINT) AS start_units,
       CAST(MAX(tn) AS BIGINT) AS end_units,
       CAST(MAX(tn) - MIN(tn) AS DOUBLE) / 1000000.0 AS duration_seconds
FROM s GROUP BY user_id, session_seq
"""


def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst deduplication: within each (user, event_type), keep only
    events arriving strictly more than 5 minutes after the previous
    raw event — the first-of-burst guard ahead of count features.
    Zero joins: one key-keyed window shuffle, then a scan predicate."""
    from etl_spark_gradle_spark.operators.events import debounce

    _prep(spark)
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return debounce(
        events, ["user_id", "event_type"], "ts",
        gap_seconds=300, tiebreak_col="event_id",
    )


_DEBOUNCE_ORACLE = """
WITH b AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS tn
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL
), f AS (
  SELECT event_id, user_id, event_type, ts, tn,
         lag(tn) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC) AS pv
  FROM b
)
SELECT event_id, user_id, event_type, ts
FROM f WHERE pv IS NULL OR tn - pv > 300000000
"""


def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type over the events feed —
    open/close selected by lexicographic struct min/max over
    (epoch_micros, event_id, value), which Spark and DuckDB both
    compare field-by-field, so the oracle replays the selection
    exactly. ONE map-side-combined groupBy, no windows or joins."""
    from etl_spark_gradle_spark.operators.timeseries import ohlc_bars

    _prep(spark)
    events = _t(spark, sf_dir, "events")
    return ohlc_bars(
        events, "ts", "value", 3600, "event_id", group_by=["event_type"]
    )


_OHLC_ORACLE = """
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_ts,
         epoch_us(ts) AS tn,
         event_id,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT event_type, bucket_ts,
       (min(struct_pack(t := tn, b := event_id, v := v))).v AS open,
       MAX(v) AS high,
       MIN(v) AS low,
       (max(struct_pack(t := tn, b := event_id, v := v))).v AS close,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean
FROM b GROUP BY event_type, bucket_ts
"""


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value — the
    left-constant integral over irregular samples (Σ v·Δt / Σ Δt),
    with exact decimal value·Δt products so the accumulation is
    partition-order free; the single closing division is the only
    float op. One user-keyed lead() window + one aggregation."""
    from etl_spark_gradle_spark.operators.timeseries import twap

    _prep(spark)
    events = _t(spark, sf_dir, "events")
    return twap(
        events, "ts", "value", group_by=["user_id"],
        tiebreak_col="event_id",
    )


_TWAP_ORACLE = """
WITH b AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS tn,
         CAST(value AS DECIMAL(18,6)) AS vq
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), l AS (
  SELECT user_id, tn, vq,
         lead(tn) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS nxt
  FROM b
), a AS (
  SELECT user_id,
         SUM(CASE WHEN nxt IS NOT NULL THEN vq * (nxt - tn) END) AS wsum,
         CAST(SUM(CASE WHEN nxt IS NOT NULL THEN nxt - tn END) AS BIGINT)
           AS wtot,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM l GROUP BY user_id
)
SELECT user_id, n_obs, wtot AS span_micros,
       CASE WHEN wtot > 0
            THEN CAST(CAST(wsum AS VARCHAR) AS DOUBLE)
                   / CAST(wtot AS DOUBLE)
       END AS twap
FROM a
"""


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting lag-feature block over the events feed: per-user
    value lags 1/2/3 plus first differences, all riding ONE
    user-keyed window shuffle (each extra lag is another lag()
    expression over the same sorted frame, not an exchange). The
    per-series partition is the no-cross-user-leak guarantee."""
    from etl_spark_gradle_spark.operators.timeseries import lag_features

    _prep(spark)
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return lag_features(
        events, ["user_id"], "ts", "value",
        lags=[1, 2, 3], tiebreak=["event_id"], deltas=True,
    )


_LAG_FEATURES_ORACLE = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         lag(value, 1) OVER win AS value_lag1,
         lag(value, 2) OVER win AS value_lag2,
         lag(value, 3) OVER win AS value_lag3
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT event_id, user_id, ts, value,
       value_lag1, value - value_lag1 AS value_delta1,
       value_lag2, value - value_lag2 AS value_delta2,
       value_lag3, value - value_lag3 AS value_delta3
FROM w
"""


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling: 3 pseudo-random part negatives
    per customer anchor from md5-derived bucket/rank draws — the
    contrastive-training pair builder. The whole construction is
    relational (bucket-local ranks, a dense bucket side table, two
    hash draws per slot), so the oracle replays every draw
    cell-for-cell; no rand(), no driver-side candidate list."""
    from etl_spark_gradle_spark.operators.corpus import negative_sample

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    part = _t(spark, sf_dir, "part").select("p_partkey")
    return negative_sample(
        cust, "c_custkey", part, "p_partkey", k=3, buckets=16
    )


_NEGATIVE_SAMPLE_ORACLE = """
WITH pool AS (
  SELECT DISTINCT p_partkey AS cand FROM part WHERE p_partkey IS NOT NULL
), bucketed AS (
  SELECT cand,
         CAST(('0x' || substr(md5('negb:' || CAST(cand AS VARCHAR)), 1, 8))
              AS BIGINT) % 16 AS b
  FROM pool
), ranked AS (
  SELECT cand, b,
         row_number() OVER (
           PARTITION BY b
           ORDER BY md5('negr:' || CAST(cand AS VARCHAR)) ASC,
                    CAST(cand AS VARCHAR) ASC
         ) - 1 AS r
  FROM bucketed
), dense AS (
  SELECT b AS db, COUNT(*) AS sz FROM ranked GROUP BY b
), dense2 AS (
  SELECT db, sz, row_number() OVER (ORDER BY db ASC) - 1 AS j FROM dense
), nb AS (
  SELECT COUNT(*) AS n FROM dense2
), slots AS (
  SELECT c_custkey AS anchor,
         CAST(i.neg_index AS INT) AS neg_index,
         CAST(('0x' || substr(md5('negq:' || CAST(c_custkey AS VARCHAR)
               || ':' || CAST(i.neg_index AS VARCHAR)), 1, 8))
              AS BIGINT) % nb.n AS jpick,
         CAST(('0x' || substr(md5('negi:' || CAST(c_custkey AS VARCHAR)
               || ':' || CAST(i.neg_index AS VARCHAR)), 1, 8))
              AS BIGINT) AS rh
  FROM customer
  CROSS JOIN (SELECT unnest([1, 2, 3]) AS neg_index) i
  CROSS JOIN nb
), picked AS (
  SELECT s.anchor, s.neg_index, d.db, s.rh % d.sz AS rpick
  FROM slots s JOIN dense2 d ON s.jpick = d.j
)
SELECT p.anchor AS c_custkey, p.neg_index, rk.cand AS negative
FROM picked p
JOIN ranked rk ON p.db = rk.b AND p.rpick = rk.r
WHERE CAST(rk.cand AS VARCHAR) <> CAST(p.anchor AS VARCHAR)
"""


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-chart anomaly scores: each event's value standardized
    against its user's previous 20 observations (baseline EXCLUDES the
    current row — no self-dilution). Window Σv/Σv² accumulate as exact
    decimals; the close is fixed IEEE with a correctly-rounded sqrt,
    so scores hash bit-identical against the SQL replay."""
    from etl_spark_gradle_spark.operators.timeseries import rolling_zscore

    _prep(spark)
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_zscore(
        events, ["user_id"], "ts", "value",
        window_rows=20, tiebreak=["event_id"],
    )


_ROLLING_ZSCORE_ORACLE = """
WITH b AS (
  SELECT event_id, user_id, ts, value,
         SUM(CAST(value AS DECIMAL(18,6))) OVER w AS s,
         SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
           OVER w AS ss,
         COUNT(CAST(value AS DECIMAL(18,6))) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY epoch_us(ts) ASC, event_id ASC
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
), c AS (
  SELECT event_id, user_id, ts, value, n,
         CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(CAST(ss AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS msq
  FROM b
)
SELECT event_id, user_id, ts, value,
       CASE WHEN n >= 2
             AND (msq - m * m)
                 * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)) > 0
            THEN (value - m)
                 / sqrt((msq - m * m)
                        * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)))
       END AS value_rzscore
FROM c
"""


def q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality maintenance: the events feed drained in
    TWO overlapping micro-batches (the same parquet twice —
    deliberately duplicated input) through `stream_kmv_distinct`,
    maintaining a per-event-type KMV sketch store of distinct users.
    The fold is idempotent by algebra (duplicate values hash to the
    same cell), so the maintained store must equal a fresh batch
    build over the deduplicated feed — which is exactly what the
    oracle replays hash-for-hash in SQL."""
    import shutil
    import time as _time

    from etl_spark_gradle_spark.streaming import (
        read_kmv_store,
        stream_kmv_distinct,
    )

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"kmv_src_{run}")
    store = os.path.join(_SCRATCH, f"kmv_store_{run}")
    ckpt = os.path.join(_SCRATCH, f"kmv_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    for i, name in enumerate(("a.parquet", "b.parquet")):
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, name))
        t = _time.time() - 300 + i * 60
        os.utime(os.path.join(src_dir, name), (t, t))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir).select("event_type", "user_id")
    stream_kmv_distinct(
        stream, store, ["event_type"], "user_id", k=64,
        checkpoint_location=ckpt,
    ).awaitTermination(120)
    out = read_kmv_store(spark, store)
    return out.select(
        "event_type",
        F.size("kmv").cast("int").alias("sk_size"),
        F.array_join("kmv", ",").alias("sketch"),
        F.col("distinct_est"),
    )


_STREAMING_KMV_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type AS g,
         md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
  FROM d
), sk AS (
  SELECT g, list_sort(array_agg(h)) AS kmv,
         CAST(COUNT(*) AS BIGINT) AS full_n
  FROM r WHERE rn <= 64 GROUP BY g
)
SELECT sk.g AS event_type,
       CAST(len(sk.kmv) AS INT) AS sk_size,
       array_to_string(sk.kmv, ',') AS sketch,
       CASE WHEN len(sk.kmv) < 64 THEN CAST(len(sk.kmv) AS DOUBLE)
            ELSE 63.0 / (CAST(CAST(('0x' || substr(sk.kmv[64], 1, 12))
                         AS BIGINT) AS DOUBLE) / 281474976710656.0)
       END AS distinct_est
FROM sk
"""


def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitters maintenance: the events feed drained
    in TWO micro-batches (the same parquet twice — the doubled feed)
    through stream_topk, maintaining per-event-type Misra-Gries
    summaries over a 50-bucket user hash at capacity 64. Cardinality
    stays within capacity, so d = 0 at every prune and the maintained
    weights are EXACT doubled counts with mg_err = 0 — which is what
    the oracle replays."""
    import shutil
    import time as _time

    from etl_spark_gradle_spark.streaming import (
        read_topk_store,
        stream_topk,
    )

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"mg_src_{run}")
    store = os.path.join(_SCRATCH, f"mg_store_{run}")
    ckpt = os.path.join(_SCRATCH, f"mg_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    for i, name in enumerate(("a.parquet", "b.parquet")):
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, name))
        t = _time.time() - 300 + i * 60
        os.utime(os.path.join(src_dir, name), (t, t))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir).where(F.col("user_id").isNotNull()).select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(50)).cast("string").alias("bucket"),
    )
    stream_topk(
        stream, store, ["event_type"], "bucket", capacity=64,
        checkpoint_location=ckpt,
    ).awaitTermination(120)
    return read_topk_store(spark, store).select(
        "event_type",
        F.col("value").cast("string").alias("bucket"),
        F.col("mg_weight"),
        F.col("mg_err"),
    )


_STREAMING_TOPK_ORACLE = """
SELECT event_type,
       CAST(user_id % 50 AS VARCHAR) AS bucket,
       CAST(2 * COUNT(*) AS BIGINT) AS mg_weight,
       CAST(0 AS BIGINT) AS mg_err
FROM events
WHERE user_id IS NOT NULL
GROUP BY event_type, user_id % 50
"""


def q_streaming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution maintenance: the events feed drained in
    TWO micro-batches (the same parquet twice) through
    stream_histogram, maintaining per-event-type 20-bin value
    histograms. Vector-add merging is EXACT, so the store holds
    exactly DOUBLED batch bin counts — replayed bin-for-bin by the
    oracle's floor-arithmetic binning."""
    import shutil
    import time as _time

    from etl_spark_gradle_spark.streaming import (
        read_histogram_store,
        stream_histogram,
    )

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"hg_src_{run}")
    store = os.path.join(_SCRATCH, f"hg_store_{run}")
    ckpt = os.path.join(_SCRATCH, f"hg_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    for i, name in enumerate(("a.parquet", "b.parquet")):
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, name))
        t = _time.time() - 300 + i * 60
        os.utime(os.path.join(src_dir, name), (t, t))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir).select("event_type", "value")
    stream_histogram(
        stream, store, ["event_type"], "value",
        lo=0.0, hi=100.0, bins=20, checkpoint_location=ckpt,
    ).awaitTermination(120)
    return read_histogram_store(spark, store).select(
        "event_type",
        F.posexplode("hist_counts").alias("bin", "cnt"),
    )


_STREAMING_HISTOGRAM_ORACLE = """
WITH types AS (SELECT DISTINCT event_type FROM events),
bins AS (SELECT unnest(range(0, 22)) AS bin),
b AS (
  SELECT event_type,
         CASE WHEN value < 0 THEN 0
              WHEN value >= 100 THEN 21
              ELSE CAST(FLOOR((value - 0.0) / 100.0 * 20) AS INT) + 1
         END AS bin
  FROM events WHERE value IS NOT NULL
),
c AS (SELECT event_type, bin, COUNT(*) AS n FROM b GROUP BY 1, 2)
SELECT t.event_type,
       CAST(bn.bin AS INT) AS bin,
       CAST(2 * COALESCE(c.n, 0) AS BIGINT) AS cnt
FROM types t
CROSS JOIN bins bn
LEFT JOIN c ON c.event_type = t.event_type AND c.bin = bn.bin
"""


def q_streaming_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming burst dedup: the events feed drained availableNow
    through debounce_stream (ONE LONG of state per (user, type) — the
    last raw event's epoch micros), keeping only first-of-burst events
    at a 5-minute gap. On a key-time-ordered feed the kept rows replay
    exactly as the batch debounce — which is what the oracle
    computes."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"deb_src_{run}")
    out_path = os.path.join(_SCRATCH, f"deb_out_{run}")
    ckpt = os.path.join(_SCRATCH, f"deb_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(
        f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet")
    )

    stream = _normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    ).select("user_id", "event_type", "ts", "event_id")
    kept = st.debounce_stream(
        stream,
        key_cols=["user_id", "event_type"],
        time_col="ts",
        gap_seconds=300,
        tiebreak_col="event_id",
        carry_cols=["event_id"],
        watermark_delay="0 seconds",
    )
    st.write_stream(
        kept,
        {"path": out_path, "checkpointLocation": ckpt, "format": "parquet"},
        output_mode="append",
        await_termination=True,
    )
    out = spark.read.parquet(out_path)
    return out.select(
        "user_id",
        "event_type",
        _fmt_ts(F.col("ts")).alias("ts"),
        "event_id",
    )


_STREAMING_DEBOUNCE_ORACLE = """
WITH b AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS tn
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL
), f AS (
  SELECT event_id, user_id, event_type, ts, tn,
         lag(tn) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC) AS pv
  FROM b
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       event_id
FROM f WHERE pv IS NULL OR tn - pv > 300000000
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (market
    segment × nation × account-balance band): every combination shared
    by fewer than 12 customers — the joint-distribution
    re-identification risk a per-cell PII scrub can't see. ONE
    map-side-combined groupBy; the balance band is a single floor
    division both engines compute identically."""
    from etl_spark_gradle_spark.operators.pii import k_anonymity

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_band",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)).cast(
            "long"
        ),
    )
    return k_anonymity(
        cust, ["c_mktsegment", "c_nationkey", "bal_band"], k=12
    )


_K_ANONYMITY_ORACLE = """
SELECT c_mktsegment, c_nationkey,
       CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
         AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < 12
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit over the same quasi-identifier cell
    as `k_anonymity` (segment × nation × balance band), sensitive
    attribute = the balance parity: QI groups whose members all share
    one sensitive value leak it to anyone who can place a person in
    the group — the homogeneity attack k-anonymity can't see. ONE
    count_distinct groupBy; Spark's Expand rewrite spreads the
    distinct state map-side."""
    from etl_spark_gradle_spark.operators.pii import l_diversity

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
        (F.floor(F.col("c_acctbal")).cast("long") % 2).alias("bal_parity"),
    )
    return l_diversity(
        cust, ["c_mktsegment", "c_nationkey", "bal_band"], "bal_parity", l=2
    )


_L_DIVERSITY_ORACLE = """
SELECT c_mktsegment, c_nationkey,
       CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
         AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal) AS BIGINT) % 2) AS BIGINT)
         AS distinct_sensitive
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(DISTINCT CAST(FLOOR(c_acctbal) AS BIGINT) % 2) < 2
"""


def q_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B two-proportion z-test per order priority: customers split
    into even/odd variants, conversion = order finalized. Four exact
    longs per group close in fixed IEEE order, so the z statistic
    hashes bit-identical against the SQL replay."""
    from etl_spark_gradle_spark.operators.stats import prop_ztest

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    df = orders.select(
        "o_orderpriority",
        F.when(F.col("o_custkey") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("variant"),
        (F.col("o_orderstatus") == "F").cast("int").alias("converted"),
    )
    return prop_ztest(
        df, "converted", "variant", group_by=["o_orderpriority"]
    )


_PROP_ZTEST_ORACLE = """
WITH b AS (
  SELECT o_orderpriority,
         CASE WHEN o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS variant,
         CASE WHEN o_orderstatus IS NULL THEN NULL
              WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ok
  FROM orders
), m AS (
  SELECT o_orderpriority,
         CAST(COUNT(CASE WHEN variant = 'even' AND ok IS NOT NULL
                         THEN 1 END) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN variant = 'even' THEN ok END), 0)
              AS BIGINT) AS x_a,
         CAST(COUNT(CASE WHEN variant = 'odd' AND ok IS NOT NULL
                         THEN 1 END) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(CASE WHEN variant = 'odd' THEN ok END), 0)
              AS BIGINT) AS x_b
  FROM b GROUP BY o_orderpriority
), c AS (
  SELECT o_orderpriority, n_a, x_a, n_b, x_b,
         CASE WHEN n_a > 0
              THEN CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
         CASE WHEN n_b > 0
              THEN CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
         CASE WHEN n_a + n_b > 0
              THEN CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE) END AS xs,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
  FROM m
), d AS (
  SELECT o_orderpriority, n_a, x_a, n_b, x_b, p_a, p_b,
         CASE WHEN n_a + n_b > 0 THEN xs / (nad + nbd) END AS p_pool,
         nad, nbd
  FROM c
)
SELECT o_orderpriority, n_a, x_a, n_b, x_b, p_a, p_b, p_pool,
       CASE WHEN n_a > 0 AND n_b > 0
             AND (p_pool * (1.0 - p_pool)) * (1.0 / nad + 1.0 / nbd) > 0
            THEN (p_a - p_b)
                 / sqrt((p_pool * (1.0 - p_pool))
                        * (1.0 / nad + 1.0 / nbd))
       END AS z_stat
FROM d
"""


def q_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record consolidation of each customer's orders: first
    status by (date, orderkey), latest observed priority, exact total
    spend, max single order — one survivorship row per customer from
    ONE map-side-combined groupBy. First/last ride lexicographic
    struct min/max, which the oracle replays field-for-field."""
    from etl_spark_gradle_spark.operators.delta import consolidate

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    return consolidate(
        orders,
        keys=["o_custkey"],
        rules={
            "o_orderstatus": "first",
            "o_orderpriority": "last_non_null",
            "o_totalprice": "sum_exact",
            "o_orderdate": "max",
        },
        order_by=["o_orderdate", "o_orderkey"],
    )


# first/last ride row_number windows, NOT min/max over struct_pack:
# DuckDB's struct min/max aggregate measured ~4 s / 10k rows and
# OOM-killed the sf1 sweep at 1.5M rows (round-11 continuation);
# (o_orderdate, o_orderkey) is unique per order, so the window
# replay is value-identical to Spark's lexicographic struct min/max
_CONSOLIDATE_ORACLE = """
WITH ranked AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)
           AS rn_first,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CASE WHEN o_orderpriority IS NOT NULL
                                          THEN 0 ELSE 1 END,
                                     o_orderdate DESC, o_orderkey DESC)
           AS rn_lastp
  FROM orders
), agg AS (
  SELECT o_custkey,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR)
              AS DOUBLE) AS o_totalprice,
         MAX(CAST(o_orderdate AS TIMESTAMP)) AS o_orderdate,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY o_custkey
)
SELECT a.o_custkey,
       f.o_orderstatus,
       l.o_orderpriority,
       a.o_totalprice, a.o_orderdate, a.n_rows
FROM agg a
JOIN (SELECT o_custkey, o_orderstatus FROM ranked
      WHERE rn_first = 1) f USING (o_custkey)
LEFT JOIN (SELECT o_custkey, o_orderpriority FROM ranked
           WHERE rn_lastp = 1 AND o_orderpriority IS NOT NULL) l
  USING (o_custkey)
"""


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: churn labeling — per user, days since last
    event vs the corpus max timestamp, event count, and the
    inactive-≥7-days churn flag (the standard retention-model label
    builder). One user aggregation + a 1-row broadcast of the corpus
    max; day arithmetic on integer epoch days, no floats at all."""
    _prep(spark)
    events = _t(spark, sf_dir, "events")
    per = events.where(F.col("user_id").isNotNull()).groupBy(
        "user_id"
    ).agg(
        F.max(F.col("ts").cast("date")).alias("_last"),
        F.count(F.when(F.col("ts").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("n_events"),
    )
    gmax = events.select(F.max(F.col("ts").cast("date")).alias("_gmax"))
    return per.crossJoin(F.broadcast(gmax)).select(
        "user_id",
        F.datediff(F.col("_gmax"), F.col("_last"))
        .cast("long")
        .alias("days_inactive"),
        "n_events",
        (F.datediff(F.col("_gmax"), F.col("_last")) >= 7).alias("churned"),
    )


_CHURN_LABELS_ORACLE = """
WITH per AS (
  SELECT user_id,
         MAX(CAST(ts AS DATE)) AS last_d,
         CAST(COUNT(CASE WHEN ts IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_events
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), g AS (
  SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events
)
SELECT user_id,
       CAST(date_diff('day', last_d, gmax) AS BIGINT) AS days_inactive,
       n_events,
       date_diff('day', last_d, gmax) >= 7 AS churned
FROM per CROSS JOIN g
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over orders: the top-5 heaviest values of
    three candidate key columns with exact counts, table shares and
    per-column ranks — the report that decides which keys need
    skew_join/salted_aggregation. ONE stacked-pairs groupBy +
    per-column WindowGroupLimit + a 1-row broadcast total."""
    from etl_spark_gradle_spark.operators.skew import skew_report

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    return skew_report(
        orders, ["o_custkey", "o_orderpriority", "o_orderstatus"], top_k=5
    )


_SKEW_REPORT_ORACLE = """
WITH pairs AS (
  SELECT 'o_custkey' AS col, CAST(o_custkey AS VARCHAR) AS value
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
), counts AS (
  SELECT col, value, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY col, value
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders
), r AS (
  SELECT col, value, n,
         CAST(row_number() OVER (
           PARTITION BY col ORDER BY n DESC, value ASC NULLS FIRST
         ) AS INT) AS rank
  FROM counts
)
SELECT col AS "column", value, n,
       CAST(n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
       rank
FROM r CROSS JOIN t WHERE rank <= 5
"""


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: event-type trigram counts — the order-3
    journey fragments between `transitions` (bigrams) and `top_paths`
    (full prefixes), built by composing lag_features over the event
    TYPE column (lags are pure row plumbing, so they lag strings as
    happily as numbers) with one count aggregation. |types|³-bounded
    output; one user-keyed window shuffle + one tiny groupBy."""
    from etl_spark_gradle_spark.operators.timeseries import lag_features

    _prep(spark)
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    lagged = lag_features(
        events, ["user_id"], "ts", "event_type",
        lags=[1, 2], tiebreak=["event_id"],
    )
    return (
        lagged.where(
            F.col("event_type_lag2").isNotNull()
            & F.col("event_type_lag1").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy(
            F.col("event_type_lag2").alias("step1"),
            F.col("event_type_lag1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_EVENT_TRIGRAMS_ORACLE = """
WITH w AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER win AS l1,
         lag(event_type, 2) OVER win AS l2
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT l2 AS step1, l1 AS step2, event_type AS step3,
       CAST(COUNT(*) AS BIGINT) AS n
FROM w
WHERE l2 IS NOT NULL AND l1 IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: weekly activity heatmap — event counts and
    shares per (day-of-week, hour-of-day) cell, the operations
    dashboard every event system renders. Day-of-week normalized to
    0=Sunday on both engines (Spark's dayofweek is 1-based); one
    map-side-combined groupBy + a 1-row broadcast total."""
    _prep(spark)
    events = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cells = events.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = events.select(F.count(F.lit(1)).cast("long").alias("_total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hour",
        "n",
        (F.col("n").cast("double") / F.col("_total").cast("double")).alias(
            "share"
        ),
    )


_ACTIVITY_HEATMAP_ORACLE = """
WITH c AS (
  SELECT CAST(date_part('dow', ts) AS INT) AS dow,
         CAST(date_part('hour', ts) AS INT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total
  FROM events WHERE ts IS NOT NULL
)
SELECT dow, hour, n,
       CAST(n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
FROM c CROSS JOIN t
"""


def q_naive_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: seasonal-naive forecast baseline — hourly
    event counts per type, "predict this hour = the same hour
    yesterday" (lag 24 via lag_features over the bucket table), and
    the per-type MAE of that baseline: the denominator every real
    forecasting model must beat (MASE's yardstick). Counts and
    absolute errors are exact integers; only the final mean divides.
    """
    from etl_spark_gradle_spark.operators.timeseries import lag_features

    _prep(spark)
    events = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = events.groupBy(
        "event_type",
        (F.unix_timestamp("ts") - F.pmod(F.unix_timestamp("ts"), F.lit(3600)))
        .cast("long")
        .alias("bucket_ts"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    lagged = lag_features(
        hourly, ["event_type"], "bucket_ts", "n", lags=[24],
    )
    scored = lagged.where(F.col("n_lag24").isNotNull())
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.abs(F.col("n") - F.col("n_lag24")))
        .cast("long")
        .alias("abs_err_total"),
        (
            F.sum(F.abs(F.col("n") - F.col("n_lag24")))
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mae"),
    )


_NAIVE_FORECAST_ERROR_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), lagged AS (
  SELECT event_type, n,
         lag(n, 24) OVER (PARTITION BY event_type
                          ORDER BY bucket_ts ASC) AS n_lag24
  FROM hourly
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(abs(n - n_lag24)) AS BIGINT) AS abs_err_total,
       CAST(SUM(abs(n - n_lag24)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mae
FROM lagged WHERE n_lag24 IS NOT NULL
GROUP BY event_type
"""


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: cohort lifetime value — customers bucketed
    by first-order period (30-day day-epoch cohorts, the
    engine-portable arithmetic the cohort operator uses), revenue per
    (cohort, period offset) as EXACT decimals, and the running
    cumulative LTV per cohort (decimal window sum — float running
    sums diverge cross-engine) closed to double via the string
    round-trip."""
    from pyspark.sql import Window as W

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    period = F.floor(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        / 30
    ).cast("int")
    base = orders.select(
        "o_custkey",
        period.alias("_p"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("_rev"),
    )
    first = base.groupBy("o_custkey").agg(F.min("_p").alias("cohort_period"))
    j = base.join(first, "o_custkey").select(
        "cohort_period",
        (F.col("_p") - F.col("cohort_period")).alias("period_offset"),
        "_rev",
    )
    per = j.groupBy("cohort_period", "period_offset").agg(
        F.sum("_rev").alias("_prev"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w = W.partitionBy("cohort_period").orderBy("period_offset")
    cum = F.sum("_prev").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per.select(
        "cohort_period",
        "period_offset",
        "n_orders",
        F.col("_prev").cast("string").cast("double").alias("revenue"),
        cum.cast("string").cast("double").alias("cum_revenue"),
    )


_COHORT_LTV_ORACLE = """
WITH base AS (
  SELECT o_custkey,
         CAST(FLOOR(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) / 30) AS INT)
           AS p,
         CAST(o_totalprice AS DECIMAL(18,6)) AS rev
  FROM orders
), first AS (
  SELECT o_custkey, MIN(p) AS cohort_period FROM base GROUP BY o_custkey
), j AS (
  SELECT f.cohort_period, b.p - f.cohort_period AS period_offset, b.rev
  FROM base b JOIN first f ON b.o_custkey = f.o_custkey
), per AS (
  SELECT cohort_period, period_offset,
         SUM(rev) AS prev,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM j GROUP BY cohort_period, period_offset
)
SELECT cohort_period, period_offset, n_orders,
       CAST(CAST(prev AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(SUM(prev) OVER (PARTITION BY cohort_period
                                 ORDER BY period_offset ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
         AS cum_revenue
FROM per
"""


def q_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: repeat-purchase interval distribution —
    per-customer day gaps between consecutive orders (lag over a
    total order), then the type-7 exact-quantile CDF over all gaps:
    the replenishment-cadence metric retail forecasting starts from.
    Gaps are exact integer days; the quantile lerp closes in fixed
    IEEE order, bit-identical against the SQL replay."""
    from pyspark.sql import Window as W

    from etl_spark_gradle_spark.operators.stats import exact_quantiles

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    d = F.col("o_orderdate").cast("date")
    gaps = (
        orders.withColumn("_gap", F.datediff(d, F.lag(d).over(w)))
        .where(F.col("_gap").isNotNull())
        .select(F.col("_gap").cast("double").alias("gap_days"))
    )
    return exact_quantiles(
        gaps, "gap_days", [0.25, 0.5, 0.9], interpolation="linear"
    )


_REORDER_INTERVALS_ORACLE = """
WITH g0 AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders
), gaps AS (
  SELECT date_diff('day',
                   lag(d) OVER (PARTITION BY o_custkey
                                ORDER BY d ASC, o_orderkey ASC),
                   d) AS gap
  FROM g0
), c AS (
  SELECT CAST(gap AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS c
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1
), cdf AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum,
         sum(c) OVER () AS n
  FROM c
), probs AS (SELECT unnest([0.25, 0.5, 0.9]) AS p), hx AS (
  SELECT p, v, cum, n,
         1.0 + (CAST(n AS DOUBLE) - 1.0) * p AS h
  FROM cdf CROSS JOIN probs
), picked AS (
  SELECT p,
         CAST(floor(h) AS BIGINT) AS rank,
         h - floor(h) AS f,
         min(CASE WHEN cum >= CAST(floor(h) AS BIGINT) THEN v END) AS vlo,
         min(CASE WHEN cum >= least(CAST(floor(h) AS BIGINT) + 1, n)
              THEN v END) AS vhi
  FROM hx GROUP BY p, 2, 3
)
SELECT p AS prob, rank, vlo + f * (vhi - vlo) AS value
FROM picked
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: embedding-centroid drift — cosine similarity
    between the mean vectors of two corpus halves (vec_id parity), the
    "did my embedding distribution shift" monitor an embedding
    pipeline runs between snapshots. Components quantize to
    floor(x·2^20) BIGINTs (the kmeans posture), per-dim sums stay
    exact integers, the dot product and squared norms accumulate in
    DECIMAL(38,0) (2^80-scale products), and ONE fixed-order float
    close produces the cosine — bit-identical cross-engine."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(2 ** 20))),
    )
    side = F.when(F.col("vec_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
    ex = emb.select(
        side.alias("_s"), F.posexplode(q).alias("dim", "v")
    )
    per_dim = ex.groupBy("dim").agg(
        F.sum(F.when(F.col("_s") == "a", F.col("v"))).alias("sa"),
        F.sum(F.when(F.col("_s") == "b", F.col("v"))).alias("sb"),
    )
    closed = per_dim.agg(
        F.sum(
            F.col("sa").cast("decimal(38,0)") * F.col("sb").cast("decimal(38,0)")
        ).alias("_dot"),
        F.sum(
            F.col("sa").cast("decimal(38,0)") * F.col("sa").cast("decimal(38,0)")
        ).alias("_na"),
        F.sum(
            F.col("sb").cast("decimal(38,0)") * F.col("sb").cast("decimal(38,0)")
        ).alias("_nb"),
    )
    counts = emb.agg(
        F.count(F.when(F.col("vec_id") % 2 == 0, F.lit(1)))
        .cast("long")
        .alias("n_a"),
        F.count(F.when(F.col("vec_id") % 2 != 0, F.lit(1)))
        .cast("long")
        .alias("n_b"),
    )
    dot = F.col("_dot").cast("string").cast("double")
    na = F.col("_na").cast("string").cast("double")
    nb = F.col("_nb").cast("string").cast("double")
    return closed.crossJoin(F.broadcast(counts)).select(
        "n_a",
        "n_b",
        F.when(
            (F.col("_na") > 0) & (F.col("_nb") > 0),
            dot / (F.sqrt(na) * F.sqrt(nb)),
        ).alias("centroid_cosine"),
    )


_EMBEDDING_DRIFT_ORACLE = """
WITH ex AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS s,
         unnest(range(len(embedding))) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1048576.0)
              AS BIGINT) AS v
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), per_dim AS (
  SELECT dim,
         SUM(CASE WHEN s = 'a' THEN v END) AS sa,
         SUM(CASE WHEN s = 'b' THEN v END) AS sb
  FROM ex GROUP BY dim
), closed AS (
  SELECT SUM(CAST(sa AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))) AS dot,
         SUM(CAST(sa AS DECIMAL(38,0)) * CAST(sa AS DECIMAL(38,0))) AS na,
         SUM(CAST(sb AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))) AS nb
  FROM per_dim
), counts AS (
  SELECT CAST(COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
         CAST(COUNT(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n_b
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
)
SELECT n_a, n_b,
       CASE WHEN na > 0 AND nb > 0 THEN
         CAST(CAST(dot AS VARCHAR) AS DOUBLE)
           / (sqrt(CAST(CAST(na AS VARCHAR) AS DOUBLE))
              * sqrt(CAST(CAST(nb AS VARCHAR) AS DOUBLE)))
       END AS centroid_cosine
FROM closed CROSS JOIN counts
"""


def q_rule_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: association-rule significance — the full
    2×2 contingency (derived by pure integer arithmetic from the
    rule table's exact counts) and its χ² statistic per rule, the
    filter that separates real affinities from spurious lift on thin
    support. χ² = N·(n11·n00 − n10·n01)² / ((n11+n10)(n01+n00)
    (n11+n01)(n10+n00)) with every product exact in DECIMAL(38,0)
    and ONE closing float division."""
    from etl_spark_gradle_spark.operators.events import association_rules

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    bi = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    rules = association_rules(bi, "basket", "item", min_support=1)
    n11 = F.col("pair_baskets")
    n10 = F.col("antecedent_baskets") - n11
    n01 = F.col("consequent_baskets") - n11
    n00 = F.col("n_baskets") - F.col("antecedent_baskets") - F.col(
        "consequent_baskets"
    ) + n11
    # det stays EXACT: decimal(19,0) products (within every engine's
    # 38-digit multiply cap), and |det| <= n^2 < 2^53 so the
    # string-roundtrip double is exact; the marginals are longs < 2^53
    # so their direct double casts are exact too — the only rounding
    # is the fixed-order float close.
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    det_d = (
        (d19(n11) * d19(n00) - d19(n10) * d19(n01))
        .cast("string")
        .cast("double")
    )
    f1 = F.col("antecedent_baskets").cast("double")
    f2 = (F.col("n_baskets") - F.col("antecedent_baskets")).cast("double")
    f3 = F.col("consequent_baskets").cast("double")
    f4 = (F.col("n_baskets") - F.col("consequent_baskets")).cast("double")
    denom = (f1 * f2) * (f3 * f4)
    chi2 = F.when(
        denom > 0,
        F.col("n_baskets").cast("double") * ((det_d * det_d) / denom),
    )
    return rules.select(
        "antecedent",
        "consequent",
        "pair_baskets",
        n10.cast("long").alias("only_antecedent"),
        n01.cast("long").alias("only_consequent"),
        n00.cast("long").alias("neither"),
        "lift",
        chi2.alias("chi2"),
    )


_RULE_SIGNIFICANCE_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, p_brand AS i
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IS NOT NULL
), ic AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS ib FROM bi GROUP BY i
), tot AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM bi
), pairs AS (
  SELECT x.i AS ia, y.i AS ic2, CAST(COUNT(*) AS BIGINT) AS pb
  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
  GROUP BY x.i, y.i
), directed AS (
  SELECT ia AS a, ic2 AS c, pb FROM pairs
  UNION ALL
  SELECT ic2 AS a, ia AS c, pb FROM pairs
), r AS (
  SELECT d.a AS antecedent, d.c AS consequent,
         d.pb AS n11, ia.ib AS ab, ca.ib AS cb, t.n AS n,
         (CAST(d.pb AS DOUBLE) / CAST(ia.ib AS DOUBLE))
           / (CAST(ca.ib AS DOUBLE) / CAST(t.n AS DOUBLE)) AS lift
  FROM directed d
  JOIN ic ia ON d.a = ia.i
  JOIN ic ca ON d.c = ca.i
  CROSS JOIN tot t
), cells AS (
  SELECT antecedent, consequent, n11,
         ab - n11 AS n10, cb - n11 AS n01,
         n - ab - cb + n11 AS n00, ab, cb, n, lift
  FROM r
)
SELECT antecedent, consequent,
       n11 AS pair_baskets,
       n10 AS only_antecedent,
       n01 AS only_consequent,
       n00 AS neither,
       lift,
       CASE WHEN (CAST(ab AS DOUBLE) * CAST(n - ab AS DOUBLE))
                 * (CAST(cb AS DOUBLE) * CAST(n - cb AS DOUBLE)) > 0
            THEN CAST(n AS DOUBLE)
                 * ((CAST(CAST(CAST(n11 AS DECIMAL(19,0))
                               * CAST(n00 AS DECIMAL(19,0))
                               - CAST(n10 AS DECIMAL(19,0))
                               * CAST(n01 AS DECIMAL(19,0))
                          AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(CAST(n11 AS DECIMAL(19,0))
                                 * CAST(n00 AS DECIMAL(19,0))
                                 - CAST(n10 AS DECIMAL(19,0))
                                 * CAST(n01 AS DECIMAL(19,0))
                            AS VARCHAR) AS DOUBLE))
                    / ((CAST(ab AS DOUBLE) * CAST(n - ab AS DOUBLE))
                       * (CAST(cb AS DOUBLE) * CAST(n - cb AS DOUBLE))))
       END AS chi2
FROM cells
"""


def q_fk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: referential-integrity coverage report — the
    share of lineitem rows whose orderkey/partkey/suppkey resolve in
    their dimension tables, in ONE fact scan (keys-only dimensions
    broadcast-left-joined, matches counted as non-null probes). The
    reporting complement of `expect`'s ref: gate — a gate tells you it
    broke, this tells you HOW MUCH."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    ok = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("_ok")
    ).distinct()
    pk = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("_pk")
    ).distinct()
    sk = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("_sk")
    ).distinct()
    j = (
        li.join(F.broadcast(ok), li["l_orderkey"] == F.col("_ok"), "left")
        .join(F.broadcast(pk), li["l_partkey"] == F.col("_pk"), "left")
        .join(F.broadcast(sk), li["l_suppkey"] == F.col("_sk"), "left")
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("_ok").cast("long").alias("order_matched"),
        F.count("_pk").cast("long").alias("part_matched"),
        F.count("_sk").cast("long").alias("supplier_matched"),
    )
    return agg.select(
        "n_rows",
        "order_matched",
        "part_matched",
        "supplier_matched",
        (F.col("order_matched").cast("double") / F.col("n_rows").cast("double"))
        .alias("order_share"),
        (F.col("part_matched").cast("double") / F.col("n_rows").cast("double"))
        .alias("part_share"),
        (
            F.col("supplier_matched").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("supplier_share"),
    )


_FK_COVERAGE_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_matched,
         CAST(COUNT(p.p_partkey) AS BIGINT) AS part_matched,
         CAST(COUNT(s.s_suppkey) AS BIGINT) AS supplier_matched
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
    ON l.l_partkey = p.p_partkey
  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
    ON l.l_suppkey = s.s_suppkey
)
SELECT n_rows, order_matched, part_matched, supplier_matched,
       CAST(order_matched AS DOUBLE) / CAST(n_rows AS DOUBLE)
         AS order_share,
       CAST(part_matched AS DOUBLE) / CAST(n_rows AS DOUBLE)
         AS part_share,
       CAST(supplier_matched AS DOUBLE) / CAST(n_rows AS DOUBLE)
         AS supplier_share
FROM m
"""


def q_co_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: top-3 co-purchase recommendations per brand
    — the directed rule table cut to each antecedent's highest-lift
    consequents (lift desc, confidence desc, consequent asc: a total
    order because the metrics are bit-deterministic doubles). The
    'customers also bought' table, straight from association_rules +
    one per-antecedent WindowGroupLimit."""
    from pyspark.sql import Window as W

    from etl_spark_gradle_spark.operators.events import association_rules

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    bi = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    rules = association_rules(bi, "basket", "item", min_support=1)
    w = W.partitionBy("antecedent").orderBy(
        F.desc("lift"), F.desc("confidence"), F.asc("consequent")
    )
    return (
        rules.withColumn("rec_rank", F.row_number().over(w).cast("int"))
        .where(F.col("rec_rank") <= 3)
        .select("antecedent", "rec_rank", "consequent", "lift", "confidence")
    )


_CO_ITEM_RECS_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, p_brand AS i
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IS NOT NULL
), ic AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS ib FROM bi GROUP BY i
), tot AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM bi
), pairs AS (
  SELECT x.i AS ia, y.i AS ic2, CAST(COUNT(*) AS BIGINT) AS pb
  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
  GROUP BY x.i, y.i
), directed AS (
  SELECT ia AS a, ic2 AS c, pb FROM pairs
  UNION ALL
  SELECT ic2 AS a, ia AS c, pb FROM pairs
), r AS (
  SELECT d.a AS antecedent, d.c AS consequent,
         (CAST(d.pb AS DOUBLE) / CAST(ia.ib AS DOUBLE))
           / (CAST(ca.ib AS DOUBLE) / CAST(t.n AS DOUBLE)) AS lift,
         CAST(d.pb AS DOUBLE) / CAST(ia.ib AS DOUBLE) AS confidence
  FROM directed d
  JOIN ic ia ON d.a = ia.i
  JOIN ic ca ON d.c = ca.i
  CROSS JOIN tot t
), ranked AS (
  SELECT antecedent, consequent, lift, confidence,
         CAST(row_number() OVER (
           PARTITION BY antecedent
           ORDER BY lift DESC, confidence DESC, consequent ASC
         ) AS INT) AS rec_rank
  FROM r
)
SELECT antecedent, rec_rank, consequent, lift, confidence
FROM ranked WHERE rec_rank <= 3
"""


def q_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: fulfillment-delay stats per supplier — days
    from order to line shipment (integer day diffs), exact total and
    max, and the mean as ONE closing division; the ops metric behind
    every supplier scorecard. One fact⋈orders join (orders keys +
    date only) and one supplier aggregation."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", F.col("l_shipdate").cast("date").alias("_sd")
    )
    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("_od")
    )
    j = li.join(od, li["l_orderkey"] == od["o_orderkey"]).select(
        "l_suppkey", F.datediff(F.col("_sd"), F.col("_od")).alias("_delay")
    )
    return j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("_delay").cast("long").alias("total_delay_days"),
        F.max("_delay").cast("long").alias("max_delay_days"),
        (
            F.sum("_delay").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_delay_days"),
    )


_SHIP_DELAY_ORACLE = """
WITH j AS (
  SELECT l_suppkey,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(delay) AS BIGINT) AS total_delay_days,
       CAST(MAX(delay) AS BIGINT) AS max_delay_days,
       CAST(SUM(delay) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_delay_days
FROM j GROUP BY l_suppkey
"""


def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: discount→quantity correlation per brand —
    the pricing team's first elasticity screen, straight from the
    grouped exact-moment correlation (one moment aggregation per
    brand, decimal(18,2) quantization identical on both engines)."""
    from etl_spark_gradle_spark.operators.stats import correlation_matrix

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    j = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        "p_brand", "l_discount", "l_quantity"
    )
    return correlation_matrix(
        j, ["l_discount", "l_quantity"], group_by=["p_brand"]
    )


_DISCOUNT_ELASTICITY_ORACLE = """
WITH j AS (
  SELECT p_brand, l_discount, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
), m AS (
  SELECT p_brand,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR)
              AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2))
                            * CAST(l_discount AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
              AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM j GROUP BY p_brand
)
SELECT p_brand,
       'l_discount' AS col_a, 'l_quantity' AS col_b,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
       END AS corr
FROM m
"""


def q_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: weekly event volume with week-over-week
    deltas — 7-day day-epoch weeks (engine-portable, no ISO week-start
    convention), counts exact, the WoW ratio one fixed division over
    a lag. The growth chart every feed dashboard opens with."""
    from pyspark.sql import Window as W

    _prep(spark)
    events = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("int")
    per = events.groupBy(week.alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = W.orderBy(F.asc("week"))
    prev = F.lag("n").over(w)
    return per.select(
        "week",
        "n",
        prev.alias("prev_n"),
        F.when(
            prev > 0, F.col("n").cast("double") / prev.cast("double")
        ).alias("wow_ratio"),
    )


_WEEKLY_TREND_ORACLE = """
WITH per AS (
  SELECT CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) / 7) AS INT) AS week,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
)
SELECT week, n,
       lag(n) OVER (ORDER BY week ASC) AS prev_n,
       CASE WHEN lag(n) OVER (ORDER BY week ASC) > 0
            THEN CAST(n AS DOUBLE)
                 / CAST(lag(n) OVER (ORDER BY week ASC) AS DOUBLE)
       END AS wow_ratio
FROM per
"""


def q_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: basket-size distribution — baskets counted
    by their distinct-item count, with the share of baskets per size:
    the sanity histogram behind every market-basket analysis (and the
    skew bound for the pair expansion)."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_partkey").cast("long").alias("basket_size")
    )
    dist = sizes.groupBy("basket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    total = sizes.select(
        F.count(F.lit(1)).cast("long").alias("_total")
    )
    return dist.crossJoin(F.broadcast(total)).select(
        "basket_size",
        "n_baskets",
        (
            F.col("n_baskets").cast("double") / F.col("_total").cast("double")
        ).alias("share"),
    )


_BASKET_SIZE_DIST_ORACLE = """
WITH sizes AS (
  SELECT l_orderkey,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS basket_size
  FROM lineitem GROUP BY l_orderkey
), dist AS (
  SELECT basket_size, CAST(COUNT(*) AS BIGINT) AS n_baskets
  FROM sizes GROUP BY basket_size
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM sizes
)
SELECT basket_size, n_baskets,
       CAST(n_baskets AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
FROM dist CROSS JOIN t
"""


def q_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: Gini coefficient of customer spend — the
    inequality summary behind `pareto`'s concentration curve
    (G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending spend with a
    custkey tiebreak for a total order). Per-customer spend is an
    exact decimal; the rank-weighted sum stays decimal (rank ≤ n, so
    decimal(18,6)·int products fit); TWO fixed divisions and one
    subtraction close it.

    r10 scale rewrite: the ascending rank used to be a global
    ``Window.orderBy`` — one task holding the whole customer table.
    Now it derives from ``_global_rank_desc``'s two-level scan via
    the exact reversal i_asc = n + 1 − rank_desc, where the DESC
    order (spend desc, custkey desc) is the mirror of (spend asc,
    custkey asc) — custkey desc spelled as _id = −custkey since the
    rank helper fixes _id ASC as its tiebreak. Values identical."""
    from etl_spark_gradle_spark.operators.evaluation import (
        _global_rank_desc,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_x")
    )
    pts = spend.select(
        F.col("_x").alias("_s"), (-F.col("o_custkey")).alias("_id"), "_x"
    )
    ranked = _global_rank_desc(pts).withColumn(
        "_i", (F.col("_n") + 1 - F.col("_rank")).cast("long")
    )
    # narrow the per-customer sum back to decimal(18,6) before the
    # rank product: a (38,6)·bigint multiply exceeds the 38-digit
    # decimal cap on strict engines; per-customer spend fits (18,6)
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("_x").cast("decimal(18,6)")).alias("_sx"),
        F.sum(F.col("_x").cast("decimal(18,6)") * F.col("_i")).alias("_six"),
    )
    n = F.col("n_customers").cast("double")
    sx = F.col("_sx").cast("string").cast("double")
    six = F.col("_six").cast("string").cast("double")
    gini = (F.lit(2.0) * six) / (n * sx) - (n + F.lit(1.0)) / n
    return agg.select(
        "n_customers",
        sx.alias("total_spend"),
        F.when((F.col("n_customers") > 0) & (sx > 0), gini).alias("gini"),
    )


_SPEND_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS x
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x,
         CAST(row_number() OVER (ORDER BY x ASC, o_custkey ASC)
              AS BIGINT) AS i
  FROM spend
), a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(CAST(x AS DECIMAL(18,6))) AS sx,
         SUM(CAST(x AS DECIMAL(18,6)) * i) AS six
  FROM ranked
)
SELECT n_customers,
       CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS total_spend,
       CASE WHEN n_customers > 0
             AND CAST(CAST(sx AS VARCHAR) AS DOUBLE) > 0
            THEN (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE))
                   / (CAST(n_customers AS DOUBLE)
                      * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                 - (CAST(n_customers AS DOUBLE) + 1.0)
                   / CAST(n_customers AS DOUBLE)
       END AS gini
FROM a
"""


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join: orders ⋈ customer on custkey with hot keys
    auto-detected at count >= 19 (the top ~1% of customers at every
    SF), salt 8. The hot path joins on (key, salt) with the dimension's
    hot rows replicated ×8; the cold path stays a plain join; results
    are row-identical to the unsalted join — only the physical
    distribution changes, which is exactly what the plain-join oracle
    proves."""
    from etl_spark_gradle_spark.operators.skew import skew_join

    _prep(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    return skew_join(
        orders, cust, on=["o_custkey"], how="left",
        salt_buckets=8, hot_threshold=19,
    )


_SKEW_JOIN_ORACLE = """
SELECT o.o_custkey, o.o_orderkey, o.o_orderpriority,
       c.c_name, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_discretize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency discretization: lineitem prices into 8 exact
    per-returnflag quantile bins — the distributed replacement for a
    global ntile(8) (whose empty PARTITION BY funnels the table
    through one task). Edges via the grouped histogram+CDF pass,
    broadcast back; bin = #edges strictly below the value."""
    from etl_spark_gradle_spark.operators.stats import discretize

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = discretize(
        li, "l_extendedprice", bins=8, mode="equal_freq",
        group_by=["l_returnflag"], output_col="bin",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"), "bin",
    )


_DISCRETIZE_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
), cdf AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c
), probs AS (
  SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS p
), th AS (
  SELECT g, p,
    min(CASE WHEN cum >= greatest(1,
        CAST(ceil(p * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS t
  FROM cdf CROSS JOIN probs GROUP BY g, p
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       CAST(l.l_extendedprice AS DOUBLE) AS price,
       CAST(sum(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) > th.t
                THEN 1 ELSE 0 END) AS INT) AS bin
FROM lineitem l JOIN th ON th.g = l.l_returnflag
GROUP BY 1, 2, 3, 4
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable KMV distinct sketch, build + EXACT rollup: k=64
    sketches of l_partkey per (returnflag, linestatus), merged up to
    returnflag — the merged sketch must equal a fresh build over the
    union (KMV's mergeability), and the oracle rebuilds every hash
    cell-for-cell in DuckDB, estimate double bit-identical."""
    from etl_spark_gradle_spark.operators.sketch import build_kmv, merge_kmv

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    per_pair = build_kmv(
        li, ["l_returnflag", "l_linestatus"], "l_partkey", k=64,
        estimate_col=None,
    )
    rolled = merge_kmv(per_pair, ["l_returnflag"], k=64, sketch_col="kmv")
    return rolled.select(
        "l_returnflag",
        F.size("kmv").cast("int").alias("sk_size"),
        F.array_join("kmv", ",").alias("sketch"),
        F.col("distinct_est"),
    )


_KMV_DISTINCT_ORACLE = """
WITH d AS (
  SELECT DISTINCT l_returnflag AS g, l_linestatus AS s,
         md5('kmv:' || CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem WHERE l_partkey IS NOT NULL
), r AS (
  SELECT g, s, h, row_number() OVER (PARTITION BY g, s ORDER BY h) AS rn
  FROM d
), sk AS (
  SELECT g, s, list_sort(array_agg(h)) AS kmv FROM r WHERE rn <= 64
  GROUP BY g, s
), mg AS (
  SELECT g,
         list_slice(list_sort(list_distinct(flatten(array_agg(kmv)))), 1, 64)
           AS kmv
  FROM sk GROUP BY g
)
SELECT g AS l_returnflag,
       CAST(len(kmv) AS INT) AS sk_size,
       array_to_string(kmv, ',') AS sketch,
       CASE WHEN len(kmv) < 64 THEN CAST(len(kmv) AS DOUBLE)
            ELSE 63.0 / (CAST(CAST(('0x' || substr(kmv[64], 1, 12)) AS BIGINT)
                         AS DOUBLE) / 281474976710656.0)
       END AS distinct_est
FROM mg
"""


def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM monitor: per-user mean-shift alarms over the
    events feed (target 50, slack 25 ≈ 0.5σ, threshold 200 ≈ 4σ),
    drained availableNow through applyInPandasWithState with TWO LONGS
    of state per user. Alarm rows replay exactly as the batch operator
    filtered to alarm — which is what the oracle computes."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"cusum_src_{run}")
    out_path = os.path.join(_SCRATCH, f"cusum_out_{run}")
    ckpt = os.path.join(_SCRATCH, f"cusum_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))

    stream = _normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    ).select("user_id", "ts", "event_id", "value")
    alarms = st.cusum_stream(
        stream,
        key_col="user_id",
        time_col="ts",
        value_col="value",
        threshold=200.0,
        target=50.0,
        slack=25.0,
        tiebreak_col="event_id",
        watermark_delay="0 seconds",
    )
    st.write_stream(
        alarms,
        {"path": out_path, "checkpointLocation": ckpt, "format": "parquet"},
        output_mode="append",
        await_termination=True,
    )
    out = spark.read.parquet(out_path)
    return out.select(
        "user_id",
        _fmt_ts(F.col("ts")).alias("ts"),
        "value",
        "cusum_pos",
        "cusum_neg",
        "high_side",
    )


_STREAMING_CUSUM_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), p AS (
  SELECT user_id, event_id, ts, v,
         sum(CAST(floor((v - 50.0 - 25.0) * 1000000) AS BIGINT)) OVER w AS p_hi,
         sum(CAST(floor((50.0 - v - 25.0) * 1000000) AS BIGINT)) OVER w AS p_lo
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), u AS (
  SELECT user_id, ts, v,
         p_hi - least(min(p_hi) OVER w2, 0) AS s_hi,
         p_lo - least(min(p_lo) OVER w2, 0) AS s_lo
  FROM p
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       v AS value,
       CAST(s_hi AS DOUBLE) / 1000000 AS cusum_pos,
       CAST(s_lo AS DOUBLE) / 1000000 AS cusum_neg,
       s_hi > 200000000 AS high_side
FROM u
WHERE s_hi > 200000000 OR s_lo > 200000000
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target encoding of order priority by order value: smoothed
    posterior mean (m=20 empirical-Bayes shrinkage toward the exact
    global prior) AND the leave-one-out anti-leakage variant — both
    from ONE aggregate state, LOO closing as row-local arithmetic.
    Exact decimal sums make every encoded double bit-reproducible."""
    from etl_spark_gradle_spark.operators.features import target_encode

    _prep(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    enc = target_encode(
        orders, ["o_orderpriority"], "o_totalprice",
        smoothing=20.0, output_col="te_mean",
    )
    enc = target_encode(
        enc, ["o_orderpriority"], "o_totalprice",
        smoothing=20.0, method="loo", output_col="te_loo",
    )
    return enc.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        "te_mean",
        "te_loo",
    )


_TARGET_ENCODE_ORACLE = """
WITH g AS (
  SELECT o_orderpriority AS p,
         sum(CAST(o_totalprice AS DECIMAL(27,6))) AS s,
         CAST(count(o_totalprice) AS BIGINT) AS n
  FROM orders GROUP BY 1
), pr AS (
  SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS VARCHAR)
              AS DOUBLE) / CAST(count(o_totalprice) AS DOUBLE) AS prior
  FROM orders
)
SELECT o.o_orderkey, o.o_orderpriority,
       CAST(o.o_totalprice AS DOUBLE) AS price,
       (CAST(CAST(g.s AS VARCHAR) AS DOUBLE) + 20.0 * pr.prior)
         / (CAST(g.n AS DOUBLE) + 20.0) AS te_mean,
       CASE WHEN o.o_totalprice IS NULL
            THEN (CAST(CAST(g.s AS VARCHAR) AS DOUBLE) + 20.0 * pr.prior)
                 / (CAST(g.n AS DOUBLE) + 20.0)
            WHEN CAST(g.n AS DOUBLE) + 20.0 > 1.0
            THEN (CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                  - CAST(o.o_totalprice AS DOUBLE) + 20.0 * pr.prior)
                 / (CAST(g.n AS DOUBLE) - 1.0 + 20.0)
            ELSE pr.prior
       END AS te_loo
FROM orders o JOIN g ON o.o_orderpriority = g.p CROSS JOIN pr
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered exact triangle counting over a mod-600 folding
    of the low-quantity supplier↔part incidence (sparse at every SF:
    421 → 72k → 1.28M triangles across sf0.01/0.1/1). The orientation
    bounds the wedge intermediate at O(m^1.5) — the naive wedge join
    explodes cubically on hub vertices. Per-vertex corner counts."""
    from etl_spark_gradle_spark.operators.graph import triangle_count

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").filter("l_quantity <= 2")
    edges = li.select(
        (F.col("l_suppkey") % 600).alias("a"),
        (F.col("l_partkey") % 600).alias("b"),
    )
    return triangle_count(edges, "a", "b")


_TRIANGLE_COUNT_ORACLE = """
WITH raw AS (
  SELECT l_suppkey % 600 AS a, l_partkey % 600 AS b
  FROM lineitem WHERE l_quantity <= 2
), e AS (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM raw WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL
), t AS (
  SELECT e1.x AS v1, e1.y AS v2, e2.y AS v3
  FROM e e1
  JOIN e e2 ON e2.x = e1.y
  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
), corners AS (
  SELECT v1 AS vertex FROM t
  UNION ALL SELECT v2 FROM t
  UNION ALL SELECT v3 FROM t
)
SELECT vertex, CAST(count(*) AS BIGINT) AS triangles
FROM corners GROUP BY vertex
"""


def q_quantiles_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-7 (numpy/pandas-default) interpolated quantiles per
    returnflag: two bracketing CDF lookups per prob in ONE closing
    aggregation, the lerp closing in fixed IEEE order — bit-identical
    doubles cross-engine."""
    from etl_spark_gradle_spark.operators.stats import exact_quantiles

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    return exact_quantiles(
        li, "price", [0.25, 0.5, 0.9], group_by=["l_returnflag"],
        interpolation="linear",
    )


_QUANTILES_LINEAR_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
), cdf AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c
), probs AS (SELECT unnest([0.25, 0.5, 0.9]) AS p), hx AS (
  SELECT g, p, v, cum, n,
         1.0 + (CAST(n AS DOUBLE) - 1.0) * p AS h
  FROM cdf CROSS JOIN probs
), picked AS (
  SELECT g, p,
         CAST(floor(h) AS BIGINT) AS rank,
         h - floor(h) AS f,
         min(CASE WHEN cum >= CAST(floor(h) AS BIGINT) THEN v END) AS vlo,
         min(CASE WHEN cum >= least(CAST(floor(h) AS BIGINT) + 1, n)
              THEN v END) AS vhi
  FROM hx GROUP BY g, p, 3, 4
)
SELECT g AS l_returnflag, p AS prob, rank,
       vlo + f * (vhi - vlo) AS value
FROM picked
"""


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles per returnflag: the CDF
    accumulates each price's total quantity in exact integer
    micro-units (float weight sums are partition-order dependent), so
    the weighted median is the smallest price covering half the
    shipped quantity — reused unweighted CDF machinery, same single
    closing aggregation."""
    from etl_spark_gradle_spark.operators.stats import exact_quantiles

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        "l_quantity",
    )
    return exact_quantiles(
        li, "price", [0.25, 0.5, 0.9], group_by=["l_returnflag"],
        weight_col="l_quantity",
    )


_WEIGHTED_QUANTILES_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(sum(CAST(floor(CAST(l_quantity AS DECIMAL(27,6)) * 1000000)
                  AS BIGINT)) AS BIGINT) AS c
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND CAST(floor(CAST(l_quantity AS DECIMAL(27,6)) * 1000000) AS BIGINT) > 0
  GROUP BY 1, 2
), cdf AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c
), probs AS (SELECT unnest([0.25, 0.5, 0.9]) AS p)
SELECT g AS l_returnflag, p AS prob,
       greatest(1, CAST(ceil(p * CAST(n AS DOUBLE)) AS BIGINT)) AS rank,
       min(CASE WHEN cum >= greatest(1,
           CAST(ceil(p * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS value
FROM cdf CROSS JOIN probs
GROUP BY 1, 2, 3
"""


def q_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level GLOBAL empirical CDF of order totals — the
    distributed replacement for cume_dist() with an empty PARTITION
    BY (which funnels the whole table through one task): value
    histogram → prefix-sum CDF → join back on the value. Integer
    cum/n close as one fixed-order division."""
    from etl_spark_gradle_spark.operators.stats import ecdf

    _prep(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    return ecdf(orders, "price", rank_col="min_rank")


_ECDF_ORACLE = """
WITH o AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders
), c AS (
  SELECT price AS v, CAST(count(*) AS BIGINT) AS c
  FROM o WHERE price IS NOT NULL GROUP BY 1
), cdf AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, c,
         sum(c) OVER () AS n
  FROM c
)
SELECT o.o_orderkey, o.price,
       CAST(cdf.cum AS DOUBLE) / CAST(cdf.n AS DOUBLE) AS ecdf,
       CAST(cdf.cum - cdf.c + 1 AS BIGINT) AS min_rank
FROM o LEFT JOIN cdf ON o.price = cdf.v
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: lineitem rows of URGENT orders. The
    fact side is pre-filtered by a relational blocked-Bloom bitmap
    (3 broadcast bitmap probes, zero fact shuffle) so only survivors
    reach the exact verify join — the explicit form of Spark's
    runtime-bloom-filter optimization. The plain IN-subquery oracle
    proves the bitmap is correctness-transparent."""
    from etl_spark_gradle_spark.operators.bloom import bloom_semi_join

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    od = _t(spark, sf_dir, "orders").where("o_orderpriority = '1-URGENT'")
    return bloom_semi_join(li, od, "l_orderkey", "o_orderkey", num_bits=1 << 20)


_BLOOM_SEMI_JOIN_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


_KEYWORD_PHRASES = [
    "the", "data", "model", "training", "of the", "qqq-no-such-phrase",
]


def q_keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary keyword tagging over documents via the Aho-Corasick
    Arrow path (the large-dictionary scale engine — deliberately
    chosen over the Catalyst expr path so the oracle cross-checks the
    Python automaton): one row per (doc_id, distinct phrase contained
    in text), set semantics with nested/overlapping occurrences
    reported. DuckDB replays it with list_filter + contains."""
    from etl_spark_gradle_spark.operators.keywords import keyword_matches

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return keyword_matches(
        docs, "text", _KEYWORD_PHRASES, id_cols=["doc_id"], engine="automaton"
    )


_KEYWORD_TAG_ORACLE = f"""
SELECT doc_id,
       unnest(list_filter({_KEYWORD_PHRASES!r}, x -> contains(text, x))) AS keyword
FROM documents
WHERE text IS NOT NULL
"""


def q_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the language mixes of even-
    vs odd-id documents — ½Σ|p−q| computed over exact decimal(38,0)
    cross-products summed order-independently, closed by ONE
    string-roundtrip double division (the only float op). DuckDB
    replays the integer arithmetic in HUGEINT."""
    from etl_spark_gradle_spark.operators.stats import tv_distance

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return tv_distance(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), "lang"
    )


_TV_DRIFT_ORACLE = """
WITH a AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_a
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), b AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_b
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
), j AS (
  SELECT coalesce(a.category, b.category) AS category,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM a FULL JOIN b ON a.category IS NOT DISTINCT FROM b.category
), t AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM j
), s AS (
  SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_categories,
         SUM(abs(CAST(n_a AS HUGEINT) * CAST(tb AS HUGEINT)
                 - CAST(n_b AS HUGEINT) * CAST(ta AS HUGEINT))) AS numer,
         CAST(2 AS HUGEINT) * CAST(ta AS HUGEINT) * CAST(tb AS HUGEINT) AS denom
  FROM j, t WHERE ta > 0 AND tb > 0 GROUP BY ta, tb
)
SELECT ta AS n_a, tb AS n_b, n_categories,
       CAST(CAST(numer AS VARCHAR) AS DOUBLE)
         / CAST(CAST(denom AS VARCHAR) AS DOUBLE) AS tv
FROM s
"""


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust standardization of event values per event type:
    (x − median)/(1.4826·MAD) with BOTH statistics as exact type-1
    quantiles via the histogram+CDF path — row-level output, the frame
    never re-shuffles (stats come back as #groups-row broadcast
    joins). NULL scaled marks unscalable (MAD=0) groups and NULL
    inputs."""
    from etl_spark_gradle_spark.operators.features import robust_scale

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return robust_scale(ev, "value", group_by=["event_type"])


_ROBUST_SCALE_ORACLE = """
WITH base AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL
), c1 AS (
  SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), cdf1 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c1
), med AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS med
  FROM cdf1 GROUP BY g
), dev AS (
  SELECT b.g, abs(b.x - m.med) AS adev FROM base b JOIN med m USING (g)
), c2 AS (
  SELECT g, adev AS v, CAST(count(*) AS BIGINT) AS c FROM dev GROUP BY 1, 2
), cdf2 AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM c2
), mad AS (
  SELECT g, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS mad
  FROM cdf2 GROUP BY g
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN 1.4826 * a.mad > 0
            THEN (CAST(e.value AS DOUBLE) - m.med) / (1.4826 * a.mad)
       END AS value_scaled
FROM events e
LEFT JOIN med m ON e.event_type = m.g
LEFT JOIN mad a ON e.event_type = a.g
"""


def q_fold_accents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latin accent→ASCII folding (café→cafe, straße→strasse) — the
    normalization step before fingerprint/exact dedup. The testdata is
    ASCII, so the query SYNTHESIZES accent-bearing strings per row
    (fixed accented prefix + table values) and folds them; both
    engines build the same input and apply the SAME codepoint map, so
    the hash match proves the translate table character-for-character."""
    from etl_spark_gradle_spark.operators.text import fold_accents

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("Çàfé ÀÉÎÕÜ ß Æon Œuvre Þing đǽ-"),
        F.col("lang"),
        F.lit(" №"),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.substring(F.col("text"), 1, 40),
    )
    return docs.select(
        "doc_id",
        raw.alias("raw"),
        fold_accents(raw).alias("folded"),
    )


def _fold_accents_oracle() -> str:
    from etl_spark_gradle_spark.operators.text import (
        _ACCENT_DST,
        _ACCENT_EXPANSIONS,
        _ACCENT_SRC,
    )

    expr = "raw"
    for src, dst in _ACCENT_EXPANSIONS:
        expr = f"replace({expr}, '{src}', '{dst}')"
    expr = f"translate({expr}, '{_ACCENT_SRC}', '{_ACCENT_DST}')"
    return f"""
WITH r AS (
  SELECT doc_id,
         'Çàfé ÀÉÎÕÜ ß Æon Œuvre Þing đǽ-' || lang || ' №' ||
         CAST(doc_id AS VARCHAR) || ' ' || substring(text, 1, 40) AS raw
  FROM documents
)
SELECT doc_id, raw, {expr} AS folded FROM r
"""


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 first-4-event user journeys: row_number window + per-user
    bounded collect + path-count agg + deterministic top-k (count desc,
    path asc). The tiebreak column is mandatory so the path string is
    a total-order function of the data on every engine."""
    from etl_spark_gradle_spark.operators import events as _ev

    _prep(spark)
    df = _t(spark, sf_dir, "events")
    return _ev.top_paths(
        df, "user_id", "event_type", "ts", "event_id", max_steps=4, k=20
    )


_TOP_PATHS_ORACLE = """
WITH stepped AS (
  SELECT user_id, replace(replace(event_type, '\\', '\\\\'), '>', '\\>') AS event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS rn
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
), paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM stepped WHERE rn <= 4 GROUP BY user_id
), totals AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM paths GROUP BY path
), grand AS (
  SELECT CAST(sum(n_users) AS BIGINT) AS total FROM totals
)
SELECT path, n_users,
       CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM totals, grand
ORDER BY n_users DESC, path ASC
LIMIT 20
"""


def q_balance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balancing: downsample every language to the smallest
    language's document count — deterministic md5-rank survivors per
    class (cap_per_group's WindowGroupLimit plan with the budget read
    from one bounded count aggregation)."""
    from etl_spark_gradle_spark.operators.corpus import balance_classes

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balance_classes(docs, ["lang"], "doc_id")


_BALANCE_CLASSES_ORACLE = """
WITH m AS (
  SELECT min(n) AS budget FROM (
    SELECT CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
  )
)
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)) ASC,
                    CAST(doc_id AS VARCHAR) ASC
         ) AS rn
  FROM documents
), m WHERE rn <= budget
"""


def q_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balancing UP: replicate every language to the largest
    language's count — floor(budget/n) copies per row, remainder to
    the lowest md5-rank rows. Duplicate rows are the POINT here; the
    hash gate verifies the exact replication multiset."""
    from etl_spark_gradle_spark.operators.corpus import balance_classes

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balance_classes(docs, ["lang"], "doc_id", mode="up")


_OVERSAMPLE_ORACLE = """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
), m AS (
  SELECT max(n) AS budget FROM c
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)) ASC,
                    CAST(doc_id AS VARCHAR) ASC
         ) AS rn
  FROM documents
)
SELECT r.doc_id, r.lang
FROM r JOIN c ON r.lang = c.lang, m,
     LATERAL UNNEST(generate_series(1,
       CASE WHEN c.n >= m.budget THEN 1
            ELSE m.budget // c.n
                 + CASE WHEN r.rn <= m.budget % c.n THEN 1 ELSE 0 END
       END)) AS g(i)
"""


def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: top-3 event types per daily tumbling window
    ("what's trending each day") — window_aggregate feeding rank_rows,
    the windowing→ranking operator chain a dashboard pipeline runs.
    One window-count shuffle (map-side combined) + a WindowGroupLimit
    top-k over the already-aggregated window-sized table; ties broken
    by event_type so the cut is total on both engines."""
    from etl_spark_gradle_spark.operators.relational import rank_rows

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    counts = window_aggregate(
        ev,
        time_column="ts",
        window_duration="1 day",
        aggregations=[AggregateExpr("*", "count", "cnt")],
        window_type="tumbling",
        group_by=["event_type"],
    )
    flat = counts.select(
        _fmt_ts(F.col("window.start")).alias("day"),
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
    )
    ranked = rank_rows(
        flat,
        partition_by=["day"],
        order_by=["cnt DESC", "event_type"],
        top_k=3,
        rank_alias="rnk",
    )
    return ranked.select("day", "rnk", "event_type", "cnt")


_TRENDING_ORACLE = """
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket
  FROM events WHERE ts IS NOT NULL
), c AS (
  SELECT bucket, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY 1, 2
), r AS (
  SELECT strftime(to_timestamp(bucket), '%Y-%m-%d %H:%M:%S') AS day,
         event_type, cnt,
         CAST(row_number() OVER (
           PARTITION BY bucket ORDER BY cnt DESC, event_type ASC
         ) AS BIGINT) AS rnk
  FROM c
)
SELECT day, rnk, event_type, cnt FROM r WHERE rnk <= 3
"""


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: model-score reliability table — ecdf
    percent-rank as the score, floor(score·10) deciles, per-bin
    positive rate from exact integer counts (ONE double division).
    The ecdf→bin→rate chain is the standard calibration diagnostic a
    scoring pipeline runs; every number is integer-derived so the
    table hash-matches cross-engine."""
    from etl_spark_gradle_spark.operators.stats import ecdf

    _prep(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    scored = ecdf(orders, "price")
    binned = scored.withColumn(
        "bin", F.least(F.floor(F.col("ecdf") * 10), F.lit(9)).cast("long")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
            "min_price",
            "max_price",
        )
    )


_CALIBRATION_ORACLE = """
WITH o AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
         CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS y
  FROM orders
), c AS (
  SELECT price AS v, CAST(count(*) AS BIGINT) AS c
  FROM o WHERE price IS NOT NULL GROUP BY 1
), cdf AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
  FROM c
), scored AS (
  SELECT o.y, o.price,
         CAST(cdf.cum AS DOUBLE) / CAST(cdf.n AS DOUBLE) AS ecdf
  FROM o LEFT JOIN cdf ON o.price = cdf.v
), binned AS (
  SELECT y, price,
         least(CAST(floor(ecdf * 10) AS BIGINT), 9) AS bin
  FROM scored
)
SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
       min(price) AS min_price, max(price) AS max_price
FROM binned GROUP BY bin
"""


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system profile over SYNTHESIZED multi-script strings
    (the testdata is ASCII — same pattern as fold_accents): per lang
    bucket the string mixes a known count of Cyrillic / Han / Arabic /
    Greek letters with table-derived Latin text, so the oracle can
    predict letters, dominant script, and ratio from the same
    construction arithmetic while Spark measures them with real
    \\p{IsScript} regex counting."""
    from etl_spark_gradle_spark.operators.text import with_script_profile

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # per-row: (doc_id % 4) picks a non-Latin block, repeated
    # (doc_id % 5 + 1) times; Latin tail from the text column
    block = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("привет"))
        .when(F.col("doc_id") % 4 == 1, F.lit("中文字"))
        .when(F.col("doc_id") % 4 == 2, F.lit("مرحبا"))
        .otherwise(F.lit("αβγδ"))
    )
    raw = F.concat(
        F.repeat(block, (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit(" "),
        F.substring(F.col("text"), 1, 30),
    )
    out = with_script_profile(
        docs.select("doc_id", raw.alias("synth")), "synth"
    )
    return out.select(
        "doc_id", "script_letters", "script_name", "script_ratio"
    )


_SCRIPT_PROFILE_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 6 WHEN 1 THEN 3 WHEN 2 THEN 5 ELSE 4 END
           AS block_letters,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'cyrillic' WHEN 1 THEN 'han'
           WHEN 2 THEN 'arabic' ELSE 'greek' END AS block_script,
         CAST(doc_id % 5 + 1 AS BIGINT) AS reps,
         substring(text, 1, 30) AS tail
  FROM documents
), m AS (
  SELECT doc_id,
         block_letters * reps AS n_block,
         CAST(length(regexp_extract_all(tail, '[A-Za-z]')) AS BIGINT)
           AS n_latin,
         block_script
  FROM base
)
SELECT doc_id,
       n_block + n_latin AS script_letters,
       -- Spark's (count, name) struct max breaks ties to the
       -- alphabetically-LAST name; 'latin' sorts after all four block
       -- scripts, so an exact tie goes to latin
       CASE WHEN n_block > n_latin THEN block_script
            WHEN n_latin > 0 THEN 'latin'
            ELSE block_script END AS script_name,
       CAST(greatest(n_block, n_latin) AS DOUBLE)
         / CAST(n_block + n_latin AS DOUBLE) AS script_ratio
FROM m
"""


def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing distinct actives per day (WAU curve) — the
    sliding count-DISTINCT no window function can express: dedup to
    (user, day), explode each pair to the 7 window ends it feeds, one
    count-distinct per end, zero-filled onto the min..max day spine."""
    from etl_spark_gradle_spark.operators.events import rolling_active

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return rolling_active(ev, "user_id", "ts", window_days=7)


_ROLLING_ACTIVE_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), contrib AS (
  SELECT u, d + g.i AS wd
  FROM pairs, LATERAL UNNEST(generate_series(0, 6)) AS g(i)
), counts AS (
  SELECT wd, CAST(count(DISTINCT u) AS BIGINT) AS n FROM contrib GROUP BY wd
), bounds AS (
  SELECT min(d) AS lo, max(d) AS hi FROM pairs
), spine AS (
  SELECT lo + g.i AS wd FROM bounds,
         LATERAL UNNEST(generate_series(0, CAST(hi - lo AS BIGINT))) AS g(i)
)
SELECT CAST(s.wd * 86400 AS BIGINT) AS day,
       CAST(coalesce(c.n, 0) AS BIGINT) AS active_users
FROM spine s LEFT JOIN counts c ON s.wd = c.wd
"""


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: EXACT vocabulary overlap between the even-
    and odd-id subcorpora — token_frequency on each side, full-outer
    join on token, one closing row: |A|, |B|, |A∩B|, exact Jaccard
    (integer counts, one double division). The exact ground truth the
    KMV sketch's `kmv_jaccard` estimates; the pair documents the
    exact-vs-sketch trade."""
    from etl_spark_gradle_spark.operators.corpus import token_frequency

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    va = token_frequency(
        docs.where("doc_id % 2 = 0"), "text", lowercase=True
    ).select(F.col("token").alias("t"), F.lit(1).alias("a"))
    vb = token_frequency(
        docs.where("doc_id % 2 = 1"), "text", lowercase=True
    ).select(F.col("token").alias("t"), F.lit(1).alias("b"))
    j = va.join(vb, on="t", how="full")
    return j.agg(
        F.count("a").cast("long").alias("vocab_a"),
        F.count("b").cast("long").alias("vocab_b"),
        F.sum((F.col("a").isNotNull() & F.col("b").isNotNull()).cast("long"))
        .cast("long")
        .alias("vocab_both"),
    ).select(
        "vocab_a",
        "vocab_b",
        "vocab_both",
        (
            F.col("vocab_both").cast("double")
            / (F.col("vocab_a") + F.col("vocab_b") - F.col("vocab_both")).cast(
                "double"
            )
        ).alias("jaccard"),
    )


_VOCAB_OVERLAP_ORACLE = """
WITH a AS (
  SELECT DISTINCT lower(unnest(
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         )) AS token
  FROM documents WHERE doc_id % 2 = 0
), b AS (
  SELECT DISTINCT lower(unnest(
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         )) AS token
  FROM documents WHERE doc_id % 2 = 1
), j AS (
  SELECT a.token AS ta, b.token AS tb FROM a FULL JOIN b ON a.token = b.token
)
SELECT CAST(count(ta) AS BIGINT) AS vocab_a,
       CAST(count(tb) AS BIGINT) AS vocab_b,
       CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS vocab_both,
       CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE)
         / CAST(count(ta) + count(tb)
                - sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) AS jaccard
FROM j
"""


def q_parquet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-statistics losslessness: write orders through the engine
    loader (single file ⇒ single row group at gate sizes), read the
    parquet FOOTER back with the distributed pyarrow stats operator,
    and compare against table-level truth computed by the oracle —
    row-group pruning is only as good as these stats, and the hash
    match proves min/max/null-count survive the write bit-for-bit."""
    from etl_spark_gradle_spark.operators.layout import parquet_stats
    from etl_spark_gradle_spark.plans.config import SinkConfig
    from etl_spark_gradle_spark.sinks import LOADER_REGISTRY

    _prep(spark)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    orders = _t(spark, sf_dir, "orders").select(*cols).coalesce(1)
    path = os.path.join(_SCRATCH, f"pqstats_{uuid.uuid4()}")
    LOADER_REGISTRY["s3"].load(
        orders,
        SinkConfig(type="s3", options={"path": path, "format": "parquet"},
                   write_mode="overwrite"),
        run_id="pqstats",
    )
    out = parquet_stats(spark, path, columns=cols)
    return out.select("column", "n_rows", "n_nulls", "min_value", "max_value")


_PARQUET_STATS_ORACLE = """
SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
       CAST(max(o_orderkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
FROM orders
"""


def q_seasonal_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal robust-anomaly summary: MAD outlier statistics per
    (event_type, hour-of-day) — the hour-of-day baseline is how
    monitoring separates 'traffic is always high at 14:00' from 'this
    value is wrong FOR 14:00'. Pure composition: a derived time key
    feeding the grouped exact-quantile MAD machinery."""
    from etl_spark_gradle_spark.operators.stats import mad_outliers

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    return mad_outliers(ev, "value", group_by=["event_type", "hr"], k=3.0)


_SEASONAL_MAD_ORACLE = """
WITH base AS (
  SELECT event_type AS g1, CAST(hour(ts) AS INT) AS g2,
         CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL
), c1 AS (
  SELECT g1, g2, x AS v, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3
), cdf1 AS (
  SELECT g1, g2, v, sum(c) OVER (PARTITION BY g1, g2 ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g1, g2) AS n
  FROM c1
), med AS (
  SELECT g1, g2, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS med
  FROM cdf1 GROUP BY g1, g2
), dev AS (
  SELECT b.g1, b.g2, abs(b.x - m.med) AS adev
  FROM base b JOIN med m
    ON b.g1 IS NOT DISTINCT FROM m.g1 AND b.g2 IS NOT DISTINCT FROM m.g2
), c2 AS (
  SELECT g1, g2, adev AS v, CAST(count(*) AS BIGINT) AS c
  FROM dev GROUP BY 1, 2, 3
), cdf2 AS (
  SELECT g1, g2, v, sum(c) OVER (PARTITION BY g1, g2 ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g1, g2) AS n
  FROM c2
), mad AS (
  SELECT g1, g2, min(CASE WHEN cum >= greatest(1,
             CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS mad
  FROM cdf2 GROUP BY g1, g2
)
SELECT d.g1 AS event_type, d.g2 AS hr,
       CAST(count(*) AS BIGINT) AS n,
       m.med AS median,
       a.mad AS mad,
       3.0 * 1.4826 * a.mad AS threshold,
       CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d
JOIN med m
  ON d.g1 IS NOT DISTINCT FROM m.g1 AND d.g2 IS NOT DISTINCT FROM m.g2
JOIN mad a
  ON d.g1 IS NOT DISTINCT FROM a.g1 AND d.g2 IS NOT DISTINCT FROM a.g2
GROUP BY 1, 2, m.med, a.mad
"""


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition query: view→purchase conversion-latency quantiles —
    funnel_steps gives each user's earliest view and the earliest
    purchase strictly after it; latencies close as exact integer
    seconds feeding the distributed exact-quantile CDF (p25/p50/p90
    are table values, hash-exact cross-engine)."""
    from etl_spark_gradle_spark.operators.events import funnel_steps
    from etl_spark_gradle_spark.operators.stats import exact_quantiles

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    reach = funnel_steps(ev, "user_id", "event_type", "ts", ["view", "purchase"])
    lat = reach.where(F.col("t2").isNotNull()).select(
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")).cast("long").alias(
            "latency_s"
        )
    )
    return exact_quantiles(lat, "latency_s", [0.25, 0.5, 0.9])


_CONVERSION_LATENCY_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT v.user_id,
         min(CASE WHEN e.ts > v.t1 THEN e.ts END) AS t2, v.t1
  FROM v LEFT JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'purchase'
  GROUP BY v.user_id, v.t1
), lat AS (
  -- floor EACH side (Spark's unix_timestamp truncates per timestamp;
  -- flooring only the difference drifts one second on fractional ts)
  SELECT CAST(floor(epoch(t2)) AS BIGINT)
         - CAST(floor(epoch(t1)) AS BIGINT) AS latency_s
  FROM p WHERE t2 IS NOT NULL
), c AS (
  SELECT latency_s AS value, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY 1
), cdf AS (
  SELECT value, sum(c) OVER (ORDER BY value) AS cum, sum(c) OVER () AS n
  FROM c
)
SELECT prob,
       CAST(greatest(1, CAST(ceil(prob * CAST(n AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS rank,
       min(CASE WHEN cum >= greatest(1,
             CAST(ceil(prob * CAST(n AS DOUBLE)) AS BIGINT)) THEN value END)
         AS value
FROM cdf, (SELECT unnest([0.25, 0.5, 0.9]) AS prob)
GROUP BY prob, n
"""


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra: pairwise Jaccard estimates between the three
    returnflags' part-key sets from their k=128 sketches alone — the
    capability HLL lacks (union-only). 3 sketch rows self-join into 3
    pairs; the estimate closes as array expressions over KB state, the
    lineitem table is scanned exactly twice (once per sketch build side
    — and the build is shared, so once)."""
    from etl_spark_gradle_spark.operators.sketch import (
        build_kmv,
        kmv_jaccard_expr,
    )

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    sk = build_kmv(li, ["l_returnflag"], "l_partkey", k=128, estimate_col=None)
    a = sk.select(F.col("l_returnflag").alias("g1"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("l_returnflag").alias("g2"), F.col("kmv").alias("kb"))
    pairs = a.join(b, F.col("g1") < F.col("g2"))
    return pairs.select(
        "g1",
        "g2",
        F.size(
            F.slice(
                F.array_sort(F.array_distinct(F.concat("ka", "kb"))), 1, 128
            )
        ).cast("int").alias("merged_size"),
        kmv_jaccard_expr(F.col("ka"), F.col("kb"), 128).alias("jaccard_est"),
    )


_KMV_JACCARD_ORACLE = """
WITH d AS (
  SELECT DISTINCT l_returnflag AS g,
         md5('kmv:' || CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem WHERE l_partkey IS NOT NULL
), r AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d
), sk AS (
  SELECT g, list_sort(array_agg(h)) AS kmv FROM r WHERE rn <= 128 GROUP BY g
), pairs AS (
  SELECT a.g AS g1, b.g AS g2, a.kmv AS ka, b.kmv AS kb,
         list_slice(list_sort(list_distinct(a.kmv || b.kmv)), 1, 128) AS m
  FROM sk a JOIN sk b ON a.g < b.g
)
SELECT g1, g2,
       CAST(len(m) AS INT) AS merged_size,
       CAST(len(list_filter(m,
              x -> list_contains(ka, x) AND list_contains(kb, x)))
            AS DOUBLE) / CAST(len(m) AS DOUBLE) AS jaccard_est
FROM pairs
"""


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan per event_type: both one-sided
    statistics via the prefix-sum identity (running sum + running min
    over ONE series-keyed sort — no recursion), target = exact decimal
    per-series mean, slack 0.1, alarm at 5. Doubles accumulate in the
    same (ts, event_id) order on both engines, so every cusum value
    hash-matches bit-for-bit."""
    from etl_spark_gradle_spark.operators.timeseries import cusum_changepoints

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = cusum_changepoints(
        ev.select("event_id", "event_type", "ts", "value"),
        value_col="value",
        time_col="ts",
        threshold=5.0,
        series_by=["event_type"],
        slack=0.1,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "event_type", "event_id", "value", "cusum_pos", "cusum_neg", "alarm"
    )


_CUSUM_ORACLE = """
WITH e AS (
  SELECT event_type, event_id, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), m AS (
  SELECT event_type,
         CAST(CAST(sum(CAST(v AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
           / count(v) AS target
  FROM e GROUP BY event_type
), p AS (
  SELECT e.event_type, e.event_id, e.v, e.ts,
         sum(CAST(floor((e.v - m.target - 0.1) * 1000000) AS BIGINT))
           OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id) AS p_hi,
         sum(CAST(floor((m.target - e.v - 0.1) * 1000000) AS BIGINT))
           OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id) AS p_lo
  FROM e JOIN m USING (event_type)
), u AS (
  SELECT event_type, event_id, v,
         p_hi - least(min(p_hi) OVER w, 0) AS s_hi,
         p_lo - least(min(p_lo) OVER w, 0) AS s_lo
  FROM p
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_type, event_id, v AS value,
       CAST(s_hi AS DOUBLE) / 1000000 AS cusum_pos,
       CAST(s_lo AS DOUBLE) / 1000000 AS cusum_neg,
       s_hi > 5000000 OR s_lo > 5000000 AS alarm
FROM u
"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler over lineitem: counts, exact distincts,
    typed extrema and string-length stats for 5 columns in ONE
    aggregation job (columns add expressions, not passes)."""
    from etl_spark_gradle_spark.quality import profile_columns

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return profile_columns(
        li,
        ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"],
    )


_PROFILE_ORACLE = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem)
SELECT 'l_orderkey' AS column, 'bigint' AS dtype, n.n_rows,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(l_orderkey) AS DOUBLE) AS min_num,
       CAST(max(l_orderkey) AS DOUBLE) AS max_num,
       CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len,
       CAST(NULL AS DOUBLE) AS avg_len
FROM lineitem, n GROUP BY n.n_rows
UNION ALL
SELECT 'l_quantity', 'double', n.n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_quantity) AS BIGINT),
       min(l_quantity), max(l_quantity),
       NULL, NULL, NULL
FROM lineitem, n GROUP BY n.n_rows
UNION ALL
SELECT 'l_extendedprice', 'double', n.n_rows,
       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_extendedprice) AS BIGINT),
       min(l_extendedprice), max(l_extendedprice),
       NULL, NULL, NULL
FROM lineitem, n GROUP BY n.n_rows
UNION ALL
SELECT 'l_returnflag', 'string', n.n_rows,
       CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_returnflag) AS BIGINT),
       NULL, NULL,
       CAST(min(length(l_returnflag)) AS BIGINT),
       CAST(max(length(l_returnflag)) AS BIGINT),
       CAST(sum(length(l_returnflag)) AS DOUBLE) /
         CAST(n.n_rows - sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
FROM lineitem, n GROUP BY n.n_rows
UNION ALL
SELECT 'l_shipdate', 'timestamp_ntz', n.n_rows,
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_shipdate) AS BIGINT),
       CAST(epoch_us(min(l_shipdate)) AS DOUBLE),
       CAST(epoch_us(max(l_shipdate)) AS DOUBLE),
       NULL, NULL, NULL
FROM lineitem, n GROUP BY n.n_rows
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS sampling: keep probability proportional to
    n_chars (p = min(1, target·w/Σw), md5-uniform draw, exact decimal
    Σw) — quality-weighted corpus selection as a pure scan predicate;
    the corpus never shuffles."""
    from etl_spark_gradle_spark.operators.corpus import weighted_sample

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", 300).select(
        "doc_id", "source", "n_chars"
    )


_WEIGHTED_SAMPLE_ORACLE = """
WITH tw AS (
  SELECT CAST(CAST(SUM(CASE WHEN CAST(n_chars AS DECIMAL(18,6)) > 0
                            THEN CAST(n_chars AS DECIMAL(18,6)) END)
              AS VARCHAR) AS DOUBLE) AS tw
  FROM documents
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d, tw
WHERE d.n_chars IS NOT NULL AND CAST(d.n_chars AS DOUBLE) > 0.0
  AND substr(md5('wsample:' || CAST(d.doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN least(1.0, (300.0 * CAST(d.n_chars AS DOUBLE)) / tw.tw) >= 1.0
           THEN 'g'
           ELSE printf('%08x', CAST(floor(least(1.0,
                (300.0 * CAST(d.n_chars AS DOUBLE)) / tw.tw)
                * 4294967296.0) AS BIGINT))
      END
"""


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2phrase collocation mining: adjacent-bigram PMI from two
    vocab-sized count shuffles; the hash-gated column is the exact
    double likelihood RATIO (monotonic with PMI — ln is pinned
    bitwise in pytest, the bm25/lm_score posture for libm)."""
    from etl_spark_gradle_spark.operators.collocations import pmi_bigrams

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return pmi_bigrams(docs, "text", min_count=5, top_k=40).select(
        "a", "b", "c_ab", "c_a", "c_b", "ratio"
    )


_PMI_ORACLE = r"""
WITH w AS (
  SELECT list_filter(list_transform(regexp_split_to_array(text, '\s+'),
                                    x -> lower(x)), x -> x <> '') AS ws
  FROM documents
), uc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w
), bc AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM (
    SELECT ws[i] AS a, ws[i + 1] AS b
    FROM w, LATERAL unnest(range(1, len(ws))) t(i)
    WHERE len(ws) >= 2
  ) GROUP BY a, b
), nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS nu FROM uc),
nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS nb FROM bc)
SELECT bc.a, bc.b, bc.c_ab, ua.c AS c_a, ub.c AS c_b,
       (CAST(bc.c_ab AS DOUBLE) / nb.nb) /
       ((CAST(ua.c AS DOUBLE) / nu.nu) * (CAST(ub.c AS DOUBLE) / nu.nu))
       AS ratio
FROM bc JOIN uc ua ON bc.a = ua.w JOIN uc ub ON bc.b = ub.w, nu, nb
WHERE bc.c_ab >= 5
ORDER BY ratio DESC, a, b LIMIT 40
"""


def q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample categorical drift over the language mix (even vs odd
    doc ids): per-category counts, rates and χ² contributions — two
    category-sized count shuffles + one tiny outer join; exact-int
    counts close as fixed-order doubles."""
    from etl_spark_gradle_spark.operators.stats import category_drift

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return category_drift(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), "lang"
    )


_DRIFT_ORACLE = """
WITH a AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_a
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), b AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_b
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
), j AS (
  SELECT coalesce(a.category, b.category) AS category,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM a FULL JOIN b ON a.category IS NOT DISTINCT FROM b.category
), t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM j),
d AS (
  SELECT category, n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(ta AS DOUBLE) AS ta, CAST(tb AS DOUBLE) AS tb
  FROM j, t
)
SELECT category, n_a, n_b,
       na / ta AS rate_a,
       nb / tb AS rate_b,
       na / ta - nb / tb AS rate_diff,
       ((na - (ta * (na + nb)) / (ta + tb)) * (na - (ta * (na + nb)) / (ta + tb)))
         / ((ta * (na + nb)) / (ta + tb))
       + ((nb - (tb * (na + nb)) / (ta + tb)) * (nb - (tb * (na + nb)) / (ta + tb)))
         / ((tb * (na + nb)) / (ta + tb)) AS chi2_contrib
FROM d
"""


def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling A2akN over events.value (click vs
    purchase — the q_ks_drift frame, tail-weighted): doubled midranks
    are exact integers from the pooled-histogram prefix sums;
    per-value contributions nano-quantized and summed exactly."""
    from etl_spark_gradle_spark.operators.stats import (
        anderson_darling_drift,
    )

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return anderson_darling_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_ANDERSON_DARLING_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_ca,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_cb
  FROM pooled
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b
  FROM pooled
  HAVING SUM(ca) > 0 AND SUM(cb) > 0
), terms AS (
  SELECT CAST(ca + cb AS DOUBLE) AS t,
         CAST(2 * cum_ca - ca AS DOUBLE) AS ua,
         CAST(2 * cum_cb - cb AS DOUBLE) AS ub,
         CAST(2 * (cum_ca + cum_cb) - (ca + cb) AS DOUBLE) AS vv,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         n_a, n_b
  FROM cum CROSS JOIN tot
), q AS (
  SELECT n_a, n_b,
         CASE WHEN vv * (2.0 * (na + nb) - vv) - (na + nb) * t > 0
              THEN CAST(ROUND(
                ((na + nb) - 1.0) / (na + nb) * (t / (na + nb))
                * ((((na + nb) * ua - na * vv)
                     * ((na + nb) * ua - na * vv))
                    / (na * (vv * (2.0 * (na + nb) - vv)
                             - (na + nb) * t))
                   + (((na + nb) * ub - nb * vv)
                       * ((na + nb) * ub - nb * vv))
                      / (nb * (vv * (2.0 * (na + nb) - vv)
                               - (na + nb) * t)))
                * 1e9) AS BIGINT)
              ELSE 0 END AS tq
  FROM terms
)
SELECT n_a, n_b, CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e9 AS a2
FROM q GROUP BY n_a, n_b
"""


def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 drift over events.value (click vs
    purchase — the q_ks_drift frame, magnitude-weighted): exact
    decimal CDF-gap numerators, value gaps via a two-level lead
    (within-bucket lead + bounded next-nonempty-bucket repair),
    nano-quantized segment terms summed exactly."""
    from etl_spark_gradle_spark.operators.stats import wasserstein_drift

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return wasserstein_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_WASSERSTEIN_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_ca,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_cb,
         lead(v) OVER (ORDER BY v) AS nv
  FROM pooled
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b
  FROM pooled
  HAVING SUM(ca) > 0 AND SUM(cb) > 0
), q AS (
  SELECT n_a, n_b,
         CASE WHEN nv IS NOT NULL THEN CAST(ROUND(
              (CAST(nv AS DOUBLE) - CAST(v AS DOUBLE))
              * (CAST(CAST(ABS(CAST(cum_ca AS HUGEINT) * n_b
                                - CAST(cum_cb AS HUGEINT) * n_a)
                            AS VARCHAR) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
              * 1e9) AS BIGINT)
              ELSE 0 END AS tq
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b, CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e9 AS w1
FROM q GROUP BY n_a, n_b
"""


def q_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kuiper V = D⁺ + D⁻ over events.value (click vs
    purchase — the q_ks_drift frame, direction-aware): both
    directional CDF-gap maxima stay exact decimal integers (no float
    compare), published as exact strings; V closes as one double
    division of their exact sum."""
    from etl_spark_gradle_spark.operators.stats import kuiper_drift

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return kuiper_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_KUIPER_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_ca,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_cb
  FROM pooled
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b
  FROM pooled
  HAVING SUM(ca) > 0 AND SUM(cb) > 0
), d AS (
  SELECT CAST(cum_ca AS HUGEINT) * n_b
           - CAST(cum_cb AS HUGEINT) * n_a AS s,
         n_a, n_b
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b, CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(MAX(s) AS VARCHAR) AS d_plus_num,
       CAST(MAX(-s) AS VARCHAR) AS d_minus_num,
       CAST(CAST(MAX(s) + MAX(-s) AS VARCHAR) AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS kuiper_v
FROM d GROUP BY n_a, n_b
"""


def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises criterion over events.value (click
    vs purchase — the q_ks_drift frame, mass-weighted squared gap):
    exact decimal gap numerators, per-value terms in fixed operand
    order nano-quantized and summed exactly."""
    from etl_spark_gradle_spark.operators.stats import (
        cramer_von_mises_drift,
    )

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return cramer_von_mises_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_CRAMER_VON_MISES_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_ca,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_cb
  FROM pooled
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b
  FROM pooled
  HAVING SUM(ca) > 0 AND SUM(cb) > 0
), q AS (
  SELECT n_a, n_b,
         CAST(ROUND(
           CAST(ca + cb AS DOUBLE)
           * (CAST(CAST(ABS(CAST(cum_ca AS HUGEINT) * n_b
                             - CAST(cum_cb AS HUGEINT) * n_a)
                         AS VARCHAR) AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
           * (CAST(CAST(ABS(CAST(cum_ca AS HUGEINT) * n_b
                             - CAST(cum_cb AS HUGEINT) * n_a)
                         AS VARCHAR) AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
           * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
              * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
           * 1e9) AS BIGINT) AS tq
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b, CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e9 AS cvm_t
FROM q GROUP BY n_a, n_b
"""


def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D energy distance over events.value (click vs purchase
    — the q_wasserstein frame, squared CDF gap): value gaps via the
    two-level lead, exact decimal gap numerators, nano-quantized
    segment terms summed exactly."""
    from etl_spark_gradle_spark.operators.stats import (
        energy_distance_drift,
    )

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return energy_distance_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_ENERGY_DISTANCE_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_ca,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_cb,
         lead(v) OVER (ORDER BY v) AS nv
  FROM pooled
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b
  FROM pooled
  HAVING SUM(ca) > 0 AND SUM(cb) > 0
), q AS (
  SELECT n_a, n_b,
         CASE WHEN nv IS NOT NULL THEN CAST(ROUND(
              2.0 * (CAST(nv AS DOUBLE) - CAST(v AS DOUBLE))
              * (CAST(CAST(ABS(CAST(cum_ca AS HUGEINT) * n_b
                                - CAST(cum_cb AS HUGEINT) * n_a)
                            AS VARCHAR) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
              * (CAST(CAST(ABS(CAST(cum_ca AS HUGEINT) * n_b
                                - CAST(cum_cb AS HUGEINT) * n_a)
                            AS VARCHAR) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
              * 1e9) AS BIGINT)
              ELSE 0 END AS tq
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b, CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1e9 AS energy
FROM q GROUP BY n_a, n_b
"""


def q_ratio_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio test: average order value (Σ spend / Σ
    orders) BUILDING vs MACHINERY customers, each customer one unit —
    the clustered ratio read a naive per-order t-test would get
    wrong. 12 exact decimal moments in one aggregation; fixed-order
    delta-method closes."""
    from etl_spark_gradle_spark.operators.stats import ratio_ttest

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select("c_custkey", "c_mktsegment")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").cast("decimal(18,2)").alias("rev"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    framed = per_cust.join(
        cust, per_cust["o_custkey"] == cust["c_custkey"]
    )
    return ratio_ttest(
        framed, "rev", "cnt", "c_mktsegment",
        side_a="BUILDING", side_b="MACHINERY",
    )


_RATIO_TTEST_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(o_totalprice) AS DECIMAL(18,2)) AS rev,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
), framed AS (
  SELECT CAST(p.rev AS DECIMAL(18,2)) AS y,
         CAST(p.cnt AS DECIMAL(18,2)) AS x,
         c.c_mktsegment AS s
  FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    AND p.rev IS NOT NULL AND p.cnt IS NOT NULL
), m AS (
  SELECT
    CAST(SUM(CASE WHEN s = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_a,
    CAST(SUM(CASE WHEN s = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_b,
    CAST(SUM(CASE WHEN s = 'BUILDING' THEN y END) AS DECIMAL(38,2))
      AS sya,
    CAST(SUM(CASE WHEN s = 'MACHINERY' THEN y END) AS DECIMAL(38,2))
      AS syb,
    CAST(SUM(CASE WHEN s = 'BUILDING' THEN x END) AS DECIMAL(38,2))
      AS sxa,
    CAST(SUM(CASE WHEN s = 'MACHINERY' THEN x END) AS DECIMAL(38,2))
      AS sxb,
    CAST(SUM(CASE WHEN s = 'BUILDING'
                  THEN CAST(y * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS syya,
    CAST(SUM(CASE WHEN s = 'MACHINERY'
                  THEN CAST(y * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS syyb,
    CAST(SUM(CASE WHEN s = 'BUILDING'
                  THEN CAST(x * x AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxxa,
    CAST(SUM(CASE WHEN s = 'MACHINERY'
                  THEN CAST(x * x AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxxb,
    CAST(SUM(CASE WHEN s = 'BUILDING'
                  THEN CAST(x * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxya,
    CAST(SUM(CASE WHEN s = 'MACHINERY'
                  THEN CAST(x * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxyb
  FROM framed
), arms AS (
  SELECT n_a, n_b,
    CAST(CAST(sya AS VARCHAR) AS DOUBLE)
      / CAST(CAST(sxa AS VARCHAR) AS DOUBLE) AS ra,
    CAST(CAST(syb AS VARCHAR) AS DOUBLE)
      / CAST(CAST(sxb AS VARCHAR) AS DOUBLE) AS rb,
    CAST(CAST(sxa AS VARCHAR) AS DOUBLE) AS dsxa,
    CAST(CAST(sxb AS VARCHAR) AS DOUBLE) AS dsxb,
    CAST(CAST(sya AS VARCHAR) AS DOUBLE) AS dsya,
    CAST(CAST(syb AS VARCHAR) AS DOUBLE) AS dsyb,
    CAST(CAST(syya AS VARCHAR) AS DOUBLE) AS dsyya,
    CAST(CAST(syyb AS VARCHAR) AS DOUBLE) AS dsyyb,
    CAST(CAST(sxxa AS VARCHAR) AS DOUBLE) AS dsxxa,
    CAST(CAST(sxxb AS VARCHAR) AS DOUBLE) AS dsxxb,
    CAST(CAST(sxya AS VARCHAR) AS DOUBLE) AS dsxya,
    CAST(CAST(sxyb AS VARCHAR) AS DOUBLE) AS dsxyb
  FROM m
), v AS (
  SELECT *,
    ((dsyya - dsya * dsya / CAST(n_a AS DOUBLE))
       / (CAST(n_a AS DOUBLE) - 1.0)
     - 2.0 * ra * ((dsxya - dsxa * dsya / CAST(n_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) - 1.0))
     + ra * ra * ((dsxxa - dsxa * dsxa / CAST(n_a AS DOUBLE))
                  / (CAST(n_a AS DOUBLE) - 1.0)))
      / (CAST(n_a AS DOUBLE)
         * (dsxa / CAST(n_a AS DOUBLE))
         * (dsxa / CAST(n_a AS DOUBLE))) AS va,
    ((dsyyb - dsyb * dsyb / CAST(n_b AS DOUBLE))
       / (CAST(n_b AS DOUBLE) - 1.0)
     - 2.0 * rb * ((dsxyb - dsxb * dsyb / CAST(n_b AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) - 1.0))
     + rb * rb * ((dsxxb - dsxb * dsxb / CAST(n_b AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) - 1.0)))
      / (CAST(n_b AS DOUBLE)
         * (dsxb / CAST(n_b AS DOUBLE))
         * (dsxb / CAST(n_b AS DOUBLE))) AS vb
  FROM arms
)
SELECT n_a, n_b,
       CASE WHEN dsxa > 0 THEN ra END AS ratio_a,
       CASE WHEN dsxb > 0 THEN rb END AS ratio_b,
       CASE WHEN dsxa > 0 AND dsxb > 0 THEN ra - rb END AS diff,
       CASE WHEN n_a > 1 AND dsxa > 0 AND n_b > 1 AND dsxb > 0
             AND va + vb > 0 THEN sqrt(va + vb) END AS se,
       CASE WHEN n_a > 1 AND dsxa > 0 AND n_b > 1 AND dsxb > 0
             AND va + vb > 0
            THEN (ra - rb) / sqrt(va + vb) END AS t_stat
FROM v
"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout over lineitem (Y = extended price, covariate
    X = quantity, arms R vs N): 12 exact decimal moments in one
    aggregation; θ, both diffs, the adjusted Welch t and the pooled
    variance reduction close in fixed operand order."""
    from etl_spark_gradle_spark.operators.stats import cuped

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return cuped(
        li, "l_extendedprice", "l_quantity", "l_returnflag",
        side_a="N", side_b="R",
    )


_CUPED_ORACLE = """
WITH pts AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
         CAST(l_quantity AS DECIMAL(18,2)) AS x,
         l_returnflag AS s
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_returnflag IN ('N', 'R')
), m AS (
  SELECT
    CAST(SUM(CASE WHEN s = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN s = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN s = 'N' THEN y END) AS DECIMAL(38,4)) AS sya,
    CAST(SUM(CASE WHEN s = 'R' THEN y END) AS DECIMAL(38,4)) AS syb,
    CAST(SUM(CASE WHEN s = 'N' THEN x END) AS DECIMAL(38,4)) AS sxa,
    CAST(SUM(CASE WHEN s = 'R' THEN x END) AS DECIMAL(38,4)) AS sxb,
    CAST(SUM(CASE WHEN s = 'N' THEN CAST(y * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS syya,
    CAST(SUM(CASE WHEN s = 'R' THEN CAST(y * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS syyb,
    CAST(SUM(CASE WHEN s = 'N' THEN CAST(x * x AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxxa,
    CAST(SUM(CASE WHEN s = 'R' THEN CAST(x * x AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxxb,
    CAST(SUM(CASE WHEN s = 'N' THEN CAST(x * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxya,
    CAST(SUM(CASE WHEN s = 'R' THEN CAST(x * y AS DECIMAL(38,4)) END)
         AS DECIMAL(38,4)) AS sxyb
  FROM pts
), d AS (
  SELECT *,
    n_a + n_b AS n,
    CAST(CAST(n_a + n_b AS DECIMAL(19,0)) * (sxya + sxyb)
         - (sxa + sxb) * (sya + syb) AS DECIMAL(38,4)) AS cov_num,
    CAST(CAST(n_a + n_b AS DECIMAL(19,0)) * (sxxa + sxxb)
         - (sxa + sxb) * (sxa + sxb) AS DECIMAL(38,4)) AS varx_num
  FROM m
), t AS (
  SELECT *,
    CAST(CAST(cov_num AS VARCHAR) AS DOUBLE)
      / CAST(CAST(varx_num AS VARCHAR) AS DOUBLE) AS th
  FROM d
), c AS (
  SELECT *,
    CAST(CAST(sya AS VARCHAR) AS DOUBLE) / CAST(n_a AS DOUBLE)
      - CAST(CAST(syb AS VARCHAR) AS DOUBLE) / CAST(n_b AS DOUBLE)
      AS diff_raw,
    CAST(CAST(sya AS VARCHAR) AS DOUBLE)
      - th * CAST(CAST(sxa AS VARCHAR) AS DOUBLE) AS sza,
    CAST(CAST(syb AS VARCHAR) AS DOUBLE)
      - th * CAST(CAST(sxb AS VARCHAR) AS DOUBLE) AS szb,
    CAST(CAST(syya AS VARCHAR) AS DOUBLE)
      - 2.0 * th * CAST(CAST(sxya AS VARCHAR) AS DOUBLE)
      + th * th * CAST(CAST(sxxa AS VARCHAR) AS DOUBLE) AS szza,
    CAST(CAST(syyb AS VARCHAR) AS DOUBLE)
      - 2.0 * th * CAST(CAST(sxyb AS VARCHAR) AS DOUBLE)
      + th * th * CAST(CAST(sxxb AS VARCHAR) AS DOUBLE) AS szzb
  FROM t
), z AS (
  SELECT *,
    sza / CAST(n_a AS DOUBLE) - szb / CAST(n_b AS DOUBLE)
      AS diff_cuped,
    (szza - sza * sza / CAST(n_a AS DOUBLE))
      / (CAST(n_a AS DOUBLE) - 1.0) AS s2a,
    (szzb - szb * szb / CAST(n_b AS DOUBLE))
      / (CAST(n_b AS DOUBLE) - 1.0) AS s2b,
    (CAST(CAST(CAST(syya + syyb AS DECIMAL(38,4)) AS VARCHAR)
          AS DOUBLE)
     - CAST(CAST(CAST(sya + syb AS DECIMAL(38,4)) AS VARCHAR)
            AS DOUBLE)
       * CAST(CAST(CAST(sya + syb AS DECIMAL(38,4)) AS VARCHAR)
              AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) AS vy,
    ((szza + szzb)
     - (sza + szb) * (sza + szb) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) AS vz
  FROM c
)
SELECT n_a, n_b,
       CASE WHEN varx_num > 0 THEN th END AS theta,
       CASE WHEN n_a > 0 AND n_b > 0 THEN diff_raw END AS diff_raw,
       CASE WHEN n_a > 1 AND n_b > 1 AND varx_num > 0
            THEN diff_cuped END AS diff_cuped,
       CASE WHEN n_a > 1 AND n_b > 1 AND varx_num > 0 AND vy > 0
            THEN 1.0 - vz / vy END AS var_reduction,
       CASE WHEN n_a > 1 AND n_b > 1 AND varx_num > 0
             AND s2a / CAST(n_a AS DOUBLE)
                 + s2b / CAST(n_b AS DOUBLE) > 0
            THEN diff_cuped
                 / sqrt(s2a / CAST(n_a AS DOUBLE)
                        + s2b / CAST(n_b AS DOUBLE)) END AS t_cuped
FROM z
"""


def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test of the click-vs-purchase mean value gap
    (the q_ks_drift frame, 60 label-swap replicates): all swaps ride
    ONE aggregation via deterministic md5 coins against the exact
    n_a/N threshold; the oracle expands rows×60 to replay the same
    universe."""
    from etl_spark_gradle_spark.operators.stats import permutation_test

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    framed = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "event_type", "value")
    return permutation_test(
        framed, "value", "event_type", "event_id",
        replicates=60, side_a="click", side_b="purchase",
    )


_PERMUTATION_TEST_ORACLE = """
WITH base AS (
  SELECT CAST(value AS DECIMAL(18,2)) AS x,
         CAST(event_id AS VARCHAR) AS id,
         (event_type = 'click') AS isa
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND event_id IS NOT NULL
    AND event_type IN ('click', 'purchase')
), counts AS (
  SELECT CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CASE WHEN isa THEN x END) AS DECIMAL(38,2)) AS xa,
         CAST(SUM(CASE WHEN NOT isa THEN x END) AS DECIMAL(38,2))
           AS xb
  FROM base
), thr AS (
  SELECT *,
         CAST(FLOOR(CAST(n_a AS DOUBLE)
                    / CAST(n_a + n_b AS DOUBLE)
                    * 4294967296.0) AS BIGINT) AS t,
         CAST(xa + xb AS DECIMAL(38,2)) AS tot,
         CAST(CAST(xa AS VARCHAR) AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(CAST(xb AS VARCHAR) AS DOUBLE) / CAST(n_b AS DOUBLE)
           AS dobs
  FROM counts
), reps AS (
  SELECT unnest(range(1, 61)) AS b
), per_rep AS (
  SELECT b,
         CAST(SUM(CASE WHEN coin THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(COALESCE(SUM(CASE WHEN coin THEN x END),
                       CAST(0 AS DECIMAL(38,2)))
              AS DECIMAL(38,2)) AS sa
  FROM (
    SELECT b, x,
           CAST(('0x' || substr(md5('perm:'
                  || CAST((b - 1) // 4 AS VARCHAR) || ':' || id),
                  1 + 8 * ((b - 1) % 4), 8)) AS BIGINT) < t AS coin
    FROM base CROSS JOIN reps CROSS JOIN thr
  ) GROUP BY b
), verdicts AS (
  SELECT pr.b,
         CASE WHEN pr.ca > 0 AND t.n_a + t.n_b - pr.ca > 0
              THEN 1 ELSE 0 END AS ok,
         CASE WHEN pr.ca > 0 AND t.n_a + t.n_b - pr.ca > 0
               AND ABS(CAST(CAST(pr.sa AS VARCHAR) AS DOUBLE)
                         / CAST(pr.ca AS DOUBLE)
                       - CAST(CAST(t.tot - pr.sa AS VARCHAR)
                              AS DOUBLE)
                         / CAST(t.n_a + t.n_b - pr.ca AS DOUBLE))
                   >= ABS(t.dobs)
              THEN 1 ELSE 0 END AS extreme
  FROM per_rep pr CROSS JOIN thr t
)
SELECT t.n_a, t.n_b,
       CAST(SUM(v.ok) AS BIGINT) AS replicates,
       CAST(SUM(v.extreme) AS BIGINT) AS n_extreme,
       t.dobs AS diff_obs,
       CASE WHEN SUM(v.ok) > 0 THEN
         CAST(SUM(v.extreme) + 1 AS DOUBLE)
           / CAST(SUM(v.ok) + 1 AS DOUBLE)
       END AS p_value
FROM verdicts v CROSS JOIN thr t
GROUP BY t.n_a, t.n_b, t.dobs
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI of mean extended price per return flag
    (40 replicates, 95%): all replicates ride ONE aggregation — each
    row carries 40 integer-threshold Poisson(1) weights (4 per md5),
    exact decimal replicate sums, order-statistic CI bounds over the
    sorted replicate means. The oracle expands rows×40; the Spark
    plan deliberately does not."""
    from etl_spark_gradle_spark.operators.stats import bootstrap_ci

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    framed = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        ).alias("row_id"),
    )
    return bootstrap_ci(
        framed, "price", "row_id", replicates=40,
        group_by=["l_returnflag"],
    )


_BOOTSTRAP_CI_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(l_orderkey AS VARCHAR) || ':'
           || CAST(l_linenumber AS VARCHAR) AS id,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS x
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
), reps AS (
  SELECT unnest(range(1, 41)) AS b
), wts AS (
  SELECT g, x, b,
         CASE WHEN bucket < 1580030168 THEN 0
              WHEN bucket < 3160060337 THEN 1
              WHEN bucket < 3950075421 THEN 2
              WHEN bucket < 4213413783 THEN 3
              WHEN bucket < 4279248373 THEN 4
              WHEN bucket < 4292415291 THEN 5
              WHEN bucket < 4294609777 THEN 6
              WHEN bucket < 4294923276 THEN 7
              WHEN bucket < 4294962463 THEN 8
              ELSE 9 END AS wt
  FROM (
    SELECT g, x, b,
           CAST(('0x' || substr(md5('boot:'
                  || CAST((b - 1) // 4 AS VARCHAR) || ':' || id),
                  1 + 8 * ((b - 1) % 4), 8)) AS BIGINT) AS bucket
    FROM base CROSS JOIN reps
  )
), per_rep AS (
  SELECT g, b,
         CAST(SUM(wt) AS BIGINT) AS wsum,
         CAST(SUM(wt * x) AS DECIMAL(38,2)) AS wx
  FROM wts GROUP BY g, b
), marr AS (
  SELECT g,
         list_sort(list(CAST(CAST(wx AS VARCHAR) AS DOUBLE)
                        / CAST(wsum AS DOUBLE))) AS ms
  FROM per_rep WHERE wsum > 0 GROUP BY g
), tot AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,2)) AS sx
  FROM base GROUP BY g
), calc AS (
  SELECT tot.g, n, sx, ms, len(ms) AS m,
         GREATEST(1, CAST(CEIL(CAST(len(ms) AS DOUBLE) * 0.025)
                          AS INT)) AS lo_idx,
         list_reduce(list_prepend(0.0, ms), (a, v) -> a + v)
           / CAST(len(ms) AS DOUBLE) AS mean_r
  FROM tot JOIN marr ON tot.g = marr.g
)
SELECT g AS l_returnflag, n,
       CAST(m AS BIGINT) AS replicates,
       CASE WHEN n > 0 THEN CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                             / CAST(n AS DOUBLE) END AS estimate,
       CASE WHEN m > 1 THEN
         sqrt(list_reduce(list_prepend(0.0, ms),
                          (a, v) -> a + (v - mean_r) * (v - mean_r))
              / CAST(m - 1 AS DOUBLE))
       END AS boot_se,
       CASE WHEN m > 0 THEN ms[lo_idx] END AS ci_lo,
       CASE WHEN m > 0 THEN ms[m + 1 - lo_idx] END AS ci_hi
FROM calc ORDER BY g
"""


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMH test over orders stratified by priority: is the
    high-value→finalized association real within strata (the pooled
    2×2 can Simpson-flip across priorities)? Exact long cells per
    stratum; the four cross-stratum float sums close by ordered folds
    DuckDB replays via list_reduce."""
    from etl_spark_gradle_spark.operators.stats import mantel_haenszel

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    framed = orders.select(
        (F.col("o_totalprice") > 150000).cast("int").alias("hi_value"),
        (F.col("o_orderstatus") == "F").cast("int").alias("finalized"),
        F.col("o_orderpriority").alias("prio"),
    ).where(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderstatus").isNotNull()
        & F.col("prio").isNotNull()
    )
    return mantel_haenszel(framed, "hi_value", "finalized", "prio")


_MANTEL_HAENSZEL_ORACLE = """
WITH pts AS (
  SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS e,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o,
         o_orderpriority AS st
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
    AND o_orderpriority IS NOT NULL
), cells AS (
  SELECT st,
         CAST(SUM(e * o) AS BIGINT) AS a,
         CAST(SUM(e * (1 - o)) AS BIGINT) AS b,
         CAST(SUM((1 - e) * o) AS BIGINT) AS c,
         CAST(SUM((1 - e) * (1 - o)) AS BIGINT) AS d
  FROM pts GROUP BY st
), terms AS (
  SELECT st, a + b + c + d AS nn, a,
         (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
           * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
           / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
              + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS e_t,
         CASE WHEN a + b + c + d > 1 THEN
           (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
             * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
             * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
             * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
             / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                 + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                   + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
                   + CAST(c AS DOUBLE) + CAST(d AS DOUBLE) - 1))
         ELSE 0.0 END AS v_t,
         CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
              + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS ad_t,
         CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
              + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS bc_t
  FROM cells
), agg AS (
  SELECT CAST(SUM(nn) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k_strata,
         CAST(SUM(a) AS BIGINT) AS sum_a,
         list_reduce(list_prepend(0.0, list(e_t ORDER BY st)),
                     (x, y) -> x + y) AS se,
         list_reduce(list_prepend(0.0, list(v_t ORDER BY st)),
                     (x, y) -> x + y) AS sv,
         list_reduce(list_prepend(0.0, list(ad_t ORDER BY st)),
                     (x, y) -> x + y) AS sad,
         list_reduce(list_prepend(0.0, list(bc_t ORDER BY st)),
                     (x, y) -> x + y) AS sbc
  FROM terms
)
SELECT n, k_strata, sum_a,
       CASE WHEN sbc > 0 THEN sad / sbc END AS or_mh,
       CASE WHEN sv > 0 THEN
         GREATEST(0.0, ABS(CAST(sum_a AS DOUBLE) - se) - 0.5)
           * GREATEST(0.0, ABS(CAST(sum_a AS DOUBLE) - se) - 0.5)
           / sv
       END AS cmh_chi2,
       CASE WHEN sv > 0 THEN {p_value} END AS p_value
FROM agg
""".format(
    p_value=_sql_pq(
        _sql_chi2_sf(
            "GREATEST(0.0, ABS(CAST(sum_a AS DOUBLE) - se) - 0.5)"
            " * GREATEST(0.0, ABS(CAST(sum_a AS DOUBLE) - se) - 0.5)"
            " / sv",
            "1",
        )
    )
)


def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage dose–response trend over lineitem: does the
    return rate ('R' flag) trend with order quantity? Every term is a
    row-level exact-decimal sum in ONE aggregation; the close is the
    fixed-order A·√N/√(B·C)."""
    from etl_spark_gradle_spark.operators.stats import cochran_armitage

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    scored = li.select(
        F.col("l_quantity").alias("dose"),
        (F.col("l_returnflag") == "R").cast("int").alias("flag"),
    ).where(
        F.col("dose").isNotNull() & F.col("l_returnflag").isNotNull()
    )
    return cochran_armitage(scored, "dose", "flag")


_COCHRAN_ARMITAGE_ORACLE = """
WITH pts AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS f,
         l_quantity AS rawd
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f) AS BIGINT) AS r_pos,
         CAST(COUNT(DISTINCT rawd) AS BIGINT) AS k_levels,
         CAST(SUM(s) AS DECIMAL(38,2)) AS sn,
         CAST(SUM(CASE WHEN f = 1 THEN s END) AS DECIMAL(38,2)) AS sr,
         CAST(SUM(CAST(s * s AS DECIMAL(38,4))) AS DECIMAL(38,4))
           AS s2n
  FROM pts
), abc AS (
  SELECT n, r_pos, k_levels,
         CAST(CAST(n AS DECIMAL(19,0))
                * COALESCE(sr, CAST(0 AS DECIMAL(38,2)))
              - CAST(r_pos AS DECIMAL(19,0)) * sn
              AS DECIMAL(38,4)) AS a,
         CAST(CAST(r_pos AS DECIMAL(19,0))
                * CAST(n - r_pos AS DECIMAL(19,0))
              AS DECIMAL(38,0)) AS b,
         CAST(CAST(n AS DECIMAL(19,0)) * s2n
              - CAST(sn * sn AS DECIMAL(38,4))
              AS DECIMAL(38,4)) AS c
  FROM agg
)
SELECT n, r_pos, k_levels,
       CAST(a AS VARCHAR) AS t_num,
       CASE WHEN r_pos > 0 AND r_pos < n AND c > 0 THEN
         (CAST(CAST(a AS VARCHAR) AS DOUBLE) * sqrt(CAST(n AS DOUBLE)))
           / sqrt(CAST(CAST(b AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(c AS VARCHAR) AS DOUBLE))
       END AS z_trend,
       CASE WHEN r_pos > 0 AND r_pos < n AND c > 0 THEN
         {p_value}
       END AS p_value
FROM abc
""".format(
    p_value=_sql_pq(
        "2.0 * "
        + _sql_norm_sf(
            "ABS((CAST(CAST(a AS VARCHAR) AS DOUBLE)"
            " * sqrt(CAST(n AS DOUBLE)))"
            " / sqrt(CAST(CAST(b AS VARCHAR) AS DOUBLE)"
            " * CAST(CAST(c AS VARCHAR) AS DOUBLE)))"
        )
    )
)


def q_concordance_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's C over the customer-lifetime survival frame
    (q_kaplan_meier's duration/event), risk-scored by order count:
    durations banded to 30-day months per the bounded-cell contract;
    exact decimal pair counts, one closing division."""
    from etl_spark_gradle_spark.operators.evaluation import (
        concordance_index,
    )

    _prep(spark)
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (
                F.datediff(
                    F.max("o_orderdate"), F.min("o_orderdate")
                ).cast("long")
                / F.lit(30)
            ).cast("long").alias("dur_m"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
            F.least(
                F.lit(20).cast("long"),
                F.count(F.lit(1)).cast("long"),
            ).alias("risk"),
        )
    )
    return concordance_index(cust, "dur_m", "ev", "risk")


_CONCORDANCE_INDEX_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) // 30
              AS BIGINT) AS dur_m,
         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev,
         LEAST(20, CAST(COUNT(*) AS BIGINT)) AS risk
  FROM orders GROUP BY o_custkey
), cells AS (
  SELECT dur_m AS t, risk AS s,
         CAST(COUNT(*) AS BIGINT) AS ca,
         CAST(SUM(ev) AS BIGINT) AS ce
  FROM cust
  WHERE dur_m IS NOT NULL AND ev IS NOT NULL AND risk IS NOT NULL
  GROUP BY dur_m, risk
), pair_sums AS (
  SELECT SUM(CAST(a.ce AS HUGEINT) * b.ca) AS P,
         SUM(CASE WHEN a.s > b.s
                  THEN CAST(a.ce AS HUGEINT) * b.ca END) AS C,
         SUM(CASE WHEN a.s < b.s
                  THEN CAST(a.ce AS HUGEINT) * b.ca END) AS D
  FROM cells a JOIN cells b ON b.t > a.t
  WHERE a.ce > 0
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n,
         CAST(SUM(ce) AS BIGINT) AS n_events
  FROM cells
), z AS (
  SELECT n, n_events,
         COALESCE(P, 0) AS P, COALESCE(C, 0) AS C, COALESCE(D, 0) AS D
  FROM tot CROSS JOIN pair_sums
)
SELECT n, n_events,
       CAST(P AS VARCHAR) AS comparable,
       CAST(C AS VARCHAR) AS concordant,
       CAST(D AS VARCHAR) AS discordant,
       CAST(P - C - D AS VARCHAR) AS tied_score,
       CASE WHEN P > 0 THEN
         CAST(CAST(2 * C + (P - C - D) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(2 * P AS VARCHAR) AS DOUBLE)
       END AS c_index
FROM z
"""


def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Hosmer–Lemeshow calibration χ² of the q_brier_ece
    pseudo-probability (cents band of the order total) against the
    finalized label, 10 bins on [0,1): exact long O and exact decimal
    E per bin, fixed-order per-bin terms closed by the ordered fold
    DuckDB replays via list_reduce."""
    from etl_spark_gradle_spark.operators.evaluation import (
        hosmer_lemeshow,
    )

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        (
            (F.floor(F.col("o_totalprice")).cast("long") % 100).cast(
                "double"
            )
            / F.lit(100.0)
        ).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return hosmer_lemeshow(
        scored, "score", "label", bins=10,
        group_by=["o_orderpriority"],
    )


_HOSMER_LEMESHOW_ORACLE = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 100 AS DOUBLE)
           / 100.0 AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
), pts AS (
  SELECT o_orderpriority,
         LEAST(GREATEST(CAST(FLOOR((x - 0.0) / CAST(0.1 AS DOUBLE))
           AS INT), 0), 9) AS bin,
         CAST(x AS DECIMAL(18,2)) AS p, y
  FROM base
), perbin AS (
  SELECT o_orderpriority, bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         SUM(p) AS sp
  FROM pts GROUP BY o_orderpriority, bin
), terms AS (
  SELECT o_orderpriority, bin, n,
         CASE WHEN CAST(CAST(sp AS VARCHAR) AS DOUBLE) > 0
               AND CAST(n AS DOUBLE)
                   - CAST(CAST(sp AS VARCHAR) AS DOUBLE) > 0
              THEN (CAST(pos AS DOUBLE)
                    - CAST(CAST(sp AS VARCHAR) AS DOUBLE))
                   * (CAST(pos AS DOUBLE)
                      - CAST(CAST(sp AS VARCHAR) AS DOUBLE))
                   * CAST(n AS DOUBLE)
                   / (CAST(CAST(sp AS VARCHAR) AS DOUBLE)
                      * (CAST(n AS DOUBLE)
                         - CAST(CAST(sp AS VARCHAR) AS DOUBLE)))
              ELSE 0.0 END AS t,
         CASE WHEN CAST(CAST(sp AS VARCHAR) AS DOUBLE) > 0
               AND CAST(n AS DOUBLE)
                   - CAST(CAST(sp AS VARCHAR) AS DOUBLE) > 0
              THEN 0 ELSE 1 END AS skip
  FROM perbin
), agg AS (
  SELECT o_orderpriority,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(SUM(skip) AS BIGINT) AS n_bins_skipped,
         list_reduce(list_prepend(0.0, list(t ORDER BY bin)),
                     (a, b) -> a + b) AS hl
  FROM terms GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, n_bins, n_bins_skipped,
       CASE WHEN n_bins - n_bins_skipped - 2 >= 1
            THEN CAST(n_bins - n_bins_skipped - 2 AS BIGINT) END AS dof,
       CASE WHEN n_bins - n_bins_skipped - 2 >= 1 THEN hl END
         AS hl_stat
FROM agg ORDER BY o_orderpriority
"""


def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa between two derived ordinal
    grades over lineitem (quantity band vs price band — correlated
    through quantity×price, the canonical ordinal-agreement shape):
    exact integer w·O / w·R·C sums in decimal(38,0), one closing
    division. Integer band arithmetic is floor-division on BIGINTs so
    both engines bucket identically (decimal casts round differently
    across engines)."""
    from etl_spark_gradle_spark.operators.evaluation import (
        weighted_kappa,
    )

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    scored = li.where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    ).select(
        F.least(
            F.lit(4).cast("long"),
            F.expr("CAST(FLOOR(l_quantity) AS BIGINT) DIV 13"),
        ).alias("grade_a"),
        F.least(
            F.lit(4).cast("long"),
            F.expr("CAST(FLOOR(l_extendedprice) AS BIGINT) DIV 20000"),
        ).alias("grade_b"),
    )
    return weighted_kappa(scored, "grade_a", "grade_b")


_WEIGHTED_KAPPA_ORACLE = """
WITH scored AS (
  SELECT CAST(LEAST(4, CAST(FLOOR(l_quantity) AS BIGINT) // 13)
              AS VARCHAR) AS a,
         CAST(LEAST(4, CAST(FLOOR(l_extendedprice) AS BIGINT) // 20000)
              AS VARCHAR) AS b
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY a, b
), spine AS (
  SELECT cls,
         CAST(row_number() OVER (ORDER BY TRY_CAST(cls AS DOUBLE)
                                 ASC NULLS LAST, cls)
              AS BIGINT) AS d
  FROM (SELECT a AS cls FROM cells UNION SELECT b FROM cells)
), nclasses AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes FROM spine
), wo AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         SUM((sa.d - sb.d) * (sa.d - sb.d) * CAST(c AS HUGEINT)) AS wo
  FROM cells
  JOIN spine sa ON cells.a = sa.cls
  JOIN spine sb ON cells.b = sb.cls
), rt AS (
  SELECT a AS cls, CAST(SUM(c) AS BIGINT) AS ra FROM cells GROUP BY a
), ct AS (
  SELECT b AS cls, CAST(SUM(c) AS BIGINT) AS rb FROM cells GROUP BY b
), we AS (
  SELECT SUM((sa.d - sb.d) * (sa.d - sb.d)
             * CAST(ra AS HUGEINT) * rb) AS we
  FROM rt
  JOIN spine sa ON rt.cls = sa.cls
  CROSS JOIN ct
  JOIN spine sb ON ct.cls = sb.cls
)
SELECT n, n_classes,
       CAST(CAST(n AS HUGEINT) * wo AS VARCHAR) AS wo_num,
       CAST(we AS VARCHAR) AS we_num,
       CASE WHEN we > 0 THEN
         CAST(CAST(we - CAST(n AS HUGEINT) * wo AS VARCHAR) AS DOUBLE)
           / CAST(CAST(we AS VARCHAR) AS DOUBLE)
       END AS kappa_w
FROM wo CROSS JOIN we CROSS JOIN nclasses
"""


def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test over the raw event stream (value vs
    ts): doubled midranks from the value histogram, time-ordered
    prefix sums via the two-level scan, exact-integer U_t, single
    max(struct) close for K + the maximizing split time."""
    from etl_spark_gradle_spark.operators.stats import pettitt_test

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return pettitt_test(ev, "ts", "value")


_PETTITT_ORACLE = """
WITH pts AS (
  SELECT ts AS t, value AS v FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
), h AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY v
), r AS (
  SELECT v,
         CAST(2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS BIGINT)
           AS r2
  FROM h
), j AS (
  SELECT pts.t, r.r2 FROM pts JOIN r ON pts.v = r.v
), pt AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS ct,
         SUM(CAST(r2 AS HUGEINT)) AS sr2
  FROM j GROUP BY t
), cum AS (
  SELECT t,
         CAST(SUM(ct) OVER (ORDER BY t) AS BIGINT) AS cct,
         SUM(sr2) OVER (ORDER BY t) AS csr2
  FROM pt
), tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS n FROM pt HAVING SUM(ct) > 0
), u AS (
  SELECT t, CAST(cct AS HUGEINT) * (n + 1) - csr2 AS u, n
  FROM cum CROSS JOIN tot
), k AS (
  SELECT n, MAX(ABS(u)) AS mk FROM u GROUP BY n
), sel AS (
  SELECT u.n, u.t, u.u FROM u JOIN k ON u.n = k.n AND ABS(u.u) = k.mk
), arg AS (
  SELECT n, MIN(t) AS t FROM sel GROUP BY n
)
SELECT sel.n,
       CAST(ABS(sel.u) AS VARCHAR) AS k_num,
       CAST(sel.u AS VARCHAR) AS u_num,
       sel.t AS change_at,
       CAST(CAST(ABS(sel.u) AS VARCHAR) AS DOUBLE) * 4.0
         / (CAST(sel.n AS DOUBLE) * CAST(sel.n AS DOUBLE)) AS k_frac
FROM sel JOIN arg ON sel.n = arg.n AND sel.t = arg.t
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift over events.value
    (click vs purchase): one value-keyed count shuffle, then
    distributed prefix sums (range-partitioned two-level scan — never
    a single-partition global window). The KS numerator stays in
    integer arithmetic (``|cum_a·n_b − cum_b·n_a|``), so the hash gate
    compares exact integers; D closes as one double division."""
    from etl_spark_gradle_spark.operators.stats import ks_drift

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return ks_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_KS_DRIFT_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), c AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v) AS cum_a,
         sum(cb) OVER (ORDER BY v) AS cum_b
  FROM pooled
), t AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM pooled
), d AS (
  SELECT v, abs(cum_a * n_b - cum_b * n_a) AS d_num, n_a, n_b
  FROM c CROSS JOIN t
), m AS (SELECT max(d_num) AS mx FROM d)
SELECT n_a, n_b,
       CAST(mx AS VARCHAR) AS d_num,
       CAST(CAST(mx AS VARCHAR) AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks_d,
       min(v) AS ks_at
FROM d CROSS JOIN m
WHERE d_num = mx
GROUP BY n_a, n_b, mx
"""


def q_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (gaps-and-islands) per user over synthetic
    activity intervals [ts, ts + (30 + event_id % 90) min]: one
    user-keyed window shuffle, running-max-end island detection,
    grid-sized groupBy close. Touching intervals merge; covered_us is
    integer-exact epoch micros."""
    from etl_spark_gradle_spark.operators.timeseries import merge_intervals

    _prep(spark)
    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(MINUTE, CAST(30 + pmod(event_id, 90) AS INT), ts)"
        ).alias("e"),
    )
    out = merge_intervals(iv, "s", "e", group_by=["user_id"])
    return out.select(
        "user_id",
        _fmt_ts(F.col("island_start")).alias("island_start"),
        _fmt_ts(F.col("island_end")).alias("island_end"),
        "n_intervals",
        (
            F.unix_micros(F.col("island_end")) - F.unix_micros(F.col("island_start"))
        ).alias("covered_us"),
    )


_INTERVALS_ORACLE = """
WITH iv AS (
  SELECT user_id, ts AS s,
         ts + ((30 + event_id % 90) * INTERVAL 1 MINUTE) AS e
  FROM events
), x AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
), y AS (
  SELECT user_id, s, e,
         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM x
)
SELECT user_id,
       strftime(min(s), '%Y-%m-%d %H:%M:%S') AS island_start,
       strftime(max(e), '%Y-%m-%d %H:%M:%S') AS island_end,
       CAST(count(*) AS BIGINT) AS n_intervals,
       epoch_us(max(e)) - epoch_us(min(s)) AS covered_us
FROM y
GROUP BY user_id, island
"""


def q_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann–Whitney U / AUC two-sample test (click vs purchase
    values): same prefix-sum CDF machinery as ks_drift; 2·U kept in
    exact integer arithmetic, AUC closes as one fixed-order double
    expression."""
    from etl_spark_gradle_spark.operators.stats import rank_sum_drift

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return rank_sum_drift(
        ev.where("event_type = 'click'"),
        ev.where("event_type = 'purchase'"),
        "value",
    )


_RANK_SUM_ORACLE = """
WITH pooled AS (
  SELECT value AS v,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY v
), c AS (
  SELECT v, ca, cb, sum(cb) OVER (ORDER BY v) AS cum_b FROM pooled
), t AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM pooled
)
SELECT n_a, n_b,
       CAST(sum(ca * (2 * cum_b - cb)) AS VARCHAR) AS u2,
       CAST(CAST(sum(ca * (2 * cum_b - cb)) AS VARCHAR) AS DOUBLE)
         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS auc
FROM c CROSS JOIN t
GROUP BY n_a, n_b
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed quantiles (type-1 rank semantics) over
    lineitem prices: value-histogram shuffle + distributed prefix-sum
    CDF + ONE closing aggregation for all probs — no approx sketch, no
    executor-memory value buffering, integer-exact ranks."""
    from etl_spark_gradle_spark.operators.stats import exact_quantiles

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, "l_extendedprice", [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


_QUANTILES_ORACLE = """
WITH counts AS (
  SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY v
), cdf AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM counts
), t AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM counts
), p AS (
  SELECT CAST(prob AS DOUBLE) AS prob
  FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99)) AS pr(prob)
)
SELECT p.prob,
       greatest(1, CAST(ceil(p.prob * CAST(n AS DOUBLE)) AS BIGINT)) AS rank,
       min(CASE WHEN cum >= greatest(1, CAST(ceil(p.prob * CAST(n AS DOUBLE)) AS BIGINT))
                THEN v END) AS value
FROM cdf CROSS JOIN t CROSS JOIN p
GROUP BY p.prob, n
"""


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: one
    window sort + two small aggs; probability = exact-count division
    (identical IEEE both engines)."""
    from etl_spark_gradle_spark.operators import events as _ev

    _prep(spark)
    df = _t(spark, sf_dir, "events")
    return _ev.transition_matrix(
        df, "user_id", "event_type", "ts", tiebreak_col="event_id"
    )


_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS to_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS from_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS transitions
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT from_type, SUM(transitions) AS ft FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.transitions,
       CAST(p.transitions AS DOUBLE) / CAST(t.ft AS DOUBLE) AS probability
FROM pairs p JOIN tot t ON p.from_type = t.from_type
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (inverse of pivot): four lineitem measures into
    (variable, value) rows — a narrow Expand, zero shuffles."""
    from etl_spark_gradle_spark.operators.relational import unpivot_columns

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").where("l_orderkey % 100 = 0")
    return unpivot_columns(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        var_col="measure",
        val_col="value",
    )


_UNPIVOT_ORACLE = """
WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
"""


def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-aggregate maintenance: the events table
    staged to scratch, read as a stream, its MERGEABLE hierarchical
    bucket deltas (1h + 1d levels per event type) folded per
    micro-batch into a versioned rollup store, then read back CLOSED.
    Because the store merges exact count/DECIMAL-sum/min/max, the
    maintained state equals a direct batch rollup over all data —
    which is exactly what the oracle computes in SQL. Multi-batch
    partitioning equality + incremental continuation are unit-tested
    in tests/test_streaming.py."""
    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"sroll_src_{run}")
    store = os.path.join(_SCRATCH, f"sroll_store_{run}")
    ckpt = os.path.join(_SCRATCH, f"sroll_ckpt_{run}")
    ev.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = st.stream_time_rollup(
        stream, store, "ts", ["value"], levels=[3600, 86400],
        checkpoint_location=ckpt, group_by=["event_type"],
    )
    q.awaitTermination(300)
    return st.read_time_rollup(spark, store)


_STREAMING_ROLLUP_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
  FROM events
), lv AS (SELECT unnest([3600, 86400]) AS step)
SELECT event_type,
       CAST(step AS BIGINT) AS level_seconds,
       (sec // step) * step AS bucket_ts,
       CAST(count(value) AS BIGINT) AS value_cnt,
       CASE WHEN count(value) > 0 THEN
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       END AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       CASE WHEN count(value) > 0 THEN
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           / CAST(count(value) AS DOUBLE)
       END AS value_avg
FROM base, lv
GROUP BY event_type, step, (sec // step) * step
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide keep-first LINE dedup (C4 / RefinedWeb style) over
    a multi-line view of the documents corpus: each doc's body plus
    three boilerplate metadata lines ("source: …", "lang: …",
    "quote: N") — the metadata lines repeat across thousands of docs
    exactly like nav bars / cookie banners, so the operator's hot-key
    path (agg-side map combine + AQE-splittable join-back) is
    exercised for real. The oracle replays the same keep-first rule
    as a window over the exploded lines, so the hash match proves the
    agg+join formulation equals the textbook row_number semantics."""
    from etl_spark_gradle_spark.operators.dedup import line_dedup

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.coalesce(F.col("text"), F.lit("")),
            F.concat(F.lit("source: "), F.coalesce("source", F.lit(""))),
            F.concat(F.lit("lang: "), F.coalesce("lang", F.lit(""))),
            F.concat(
                F.lit("quote: "),
                (F.coalesce(F.col("n_chars"), F.lit(0)) % 7).cast("string"),
            ),
        ).alias("text"),
    )
    return line_dedup(multi, "doc_id", "text", min_chars=5)


_LINE_DEDUP_ORACLE = """
WITH src AS (
  SELECT doc_id,
         concat(coalesce(text, ''), chr(10),
                'source: ', coalesce(source, ''), chr(10),
                'lang: ', coalesce(lang, ''), chr(10),
                'quote: ', CAST(coalesce(n_chars, 0) % 7 AS VARCHAR)) AS t
  FROM documents
), lx AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS line,
         unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
  FROM src
), ranked AS (
  SELECT doc_id, pos, line,
         length(regexp_replace(line, '\\s', '', 'g')) >= 5 AS elig,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lx
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN (NOT elig) OR rn = 1 THEN line END,
                           chr(10) ORDER BY pos), '') AS text_dedup,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN (NOT elig) OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_lines
FROM ranked
GROUP BY doc_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rule battery (Rae et al. 2021 Table A1)
    over the documents corpus, enriched with deterministic bullet /
    ellipsis tail lines (keyed on n_chars mod 5 / mod 7) so every rule
    path — not just word count and stopwords — is exercised against
    the oracle. Zero-shuffle scan-riding expressions; every ratio is
    one division of two exact integer counts, so the doubles hash
    bit-identical cross-engine."""
    from etl_spark_gradle_spark.operators.text import with_gopher_rules

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.coalesce(F.col("n_chars"), F.lit(0)) % 5 == 0,
                F.lit("\n- bullet item"),
            ).otherwise(F.lit("")),
            F.when(
                F.coalesce(F.col("n_chars"), F.lit(0)) % 7 == 0,
                F.lit("\nto be continued..."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # min_stop_hits=1: the synthetic word-soup corpus carries 'the'
    # but rarely two of the 8 Gopher stopwords; at the paper default
    # the keep column would be all-zero here (the operator default
    # stays 2, per the paper)
    return with_gopher_rules(enriched, min_stop_hits=1)


def _gopher_oracle() -> str:
    stop_sum = " + ".join(
        f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
        for w in ["the", "be", "to", "of", "and", "that", "have", "with"]
    )
    return f"""
WITH src AS (
  SELECT doc_id,
         concat(coalesce(text, ''),
                CASE WHEN coalesce(n_chars, 0) % 5 = 0
                     THEN chr(10) || '- bullet item' ELSE '' END,
                CASE WHEN coalesce(n_chars, 0) % 7 = 0
                     THEN chr(10) || 'to be continued...' ELSE '' END) AS text
  FROM documents
), base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
                     x -> x != '') AS toks,
         string_split(text, chr(10)) AS lines
  FROM src
), m AS (
  SELECT doc_id, text,
         len(toks) AS n_words,
         greatest(len(toks), 1) AS safe_words,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
           AS sum_word_len,
         len(regexp_extract_all(text, '#|\\.{{3}}|…')) AS n_symbols,
         greatest(len(lines), 1) AS safe_lines,
         len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*•‣▪]')))
           AS bullets,
         len(list_filter(lines, l -> regexp_matches(l, '(\\.{{3}}|…)[ \\t]*$')))
           AS ellipses,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
           AS alpha_words,
         {stop_sum} AS stop_hits
  FROM base
), r AS (
  SELECT doc_id, text,
         CAST(n_words AS BIGINT) AS n_words,
         CAST(sum_word_len AS DOUBLE) / safe_words AS mean_word_len,
         CAST(n_symbols AS DOUBLE) / safe_words AS symbol_ratio,
         CAST(bullets AS DOUBLE) / safe_lines AS bullet_frac,
         CAST(ellipses AS DOUBLE) / safe_lines AS ellipsis_frac,
         CAST(alpha_words AS DOUBLE) / safe_words AS alpha_frac,
         CAST(stop_hits AS BIGINT) AS stop_hits
  FROM m
)
SELECT doc_id, text, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, stop_hits,
       CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r_words,
       CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS r_word_len,
       CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol,
       CAST(bullet_frac <= 0.9 AS INT) AS r_bullet,
       CAST(ellipsis_frac <= 0.3 AS INT) AS r_ellipsis,
       CAST(alpha_frac >= 0.8 AS INT) AS r_alpha,
       CAST(stop_hits >= 1 AS INT) AS r_stop,
       CAST(n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio <= 0.1
            AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8
            AND stop_hits >= 1 AS INT) AS gopher_keep
FROM r
"""


_GOPHER_RULES_ORACLE = _gopher_oracle()


def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC → SCD2 dimension fold: the orders-derived change
    feed (same derivation as q_scd2) staged to scratch, read as a
    stream, folded into a versioned dimension via foreachBatch +
    scd2_apply (empty bootstrap), drained with availableNow. The final
    dimension must equal the batch timeline computed directly over the
    change feed — which is exactly what the oracle does (window-
    function timeline with consecutive-dup collapse, no dim seed).
    Cross-batch sequencing/retry semantics are unit-tested in
    tests/test_streaming.py."""
    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    chg = orders.where("o_totalprice > 350000").select(
        F.col("o_custkey").alias("c_custkey"),
        F.when(F.col("o_totalprice") > 450000, "HIGH").otherwise("STD").alias(
            "c_mktsegment"
        ),
        F.expr("o_orderdate + make_dt_interval(0,0,0, o_orderkey % 86400)").alias(
            "eff"
        ),
    )
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"sscd2_src_{run}")
    dim_path = os.path.join(_SCRATCH, f"sscd2_dim_{run}")
    ckpt = os.path.join(_SCRATCH, f"sscd2_ckpt_{run}")
    chg.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = st.stream_scd2_fold(
        stream, dim_path, ["c_custkey"], ["c_mktsegment"], "eff",
        checkpoint_location=ckpt,
    )
    q.awaitTermination(300)
    out = st.read_scd2_dimension(spark, dim_path)
    return out.select(
        "c_custkey",
        "c_mktsegment",
        _fmt_ts("valid_from").alias("valid_from"),
        _fmt_ts("valid_to").alias("valid_to"),
        "is_current",
    )


_STREAMING_SCD2_ORACLE = """
WITH chg AS (
  SELECT o_custkey AS c_custkey,
         CASE WHEN o_totalprice > 450000 THEN 'HIGH' ELSE 'STD' END AS c_mktsegment,
         o_orderdate + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS ts
  FROM orders WHERE o_totalprice > 350000
), marked AS (
  SELECT *,
         lag(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY ts) AS prev_seg
  FROM chg
), surv AS (
  SELECT c_custkey, c_mktsegment, ts FROM marked
  WHERE prev_seg IS NULL OR c_mktsegment <> prev_seg
), ver AS (
  SELECT c_custkey, c_mktsegment, ts AS valid_from,
         lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS valid_to
  FROM surv
)
SELECT c_custkey, c_mktsegment,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
       valid_to IS NULL AS is_current
FROM ver
"""


def q_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance: state built on snapshot v1,
    then maintained to v2 through table_diff(emit='both') insert/
    update/delete images — sums in exact decimal so the maintained
    result equals a direct v2 recompute BIT-FOR-BIT, which is exactly
    what the oracle computes (DuckDB aggregates v2 directly; Spark
    runs the full incremental machinery). Cost model: three
    churn-sized aggs + a |groups| outer join, base table untouched."""
    from etl_spark_gradle_spark.operators import delta as _dl

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    p_dec = F.col("o_totalprice").cast("decimal(18,2)")
    v1 = orders.where("o_orderkey % 5 != 0").select(
        "o_orderkey", "o_orderpriority", p_dec.alias("p")
    )
    v2 = orders.where("o_orderkey % 7 != 0").select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0, p_dec + 10).otherwise(p_dec).alias("p"),
    )
    state = v1.groupBy("o_orderpriority").agg(
        F.sum("p").alias("sum_price"), F.count("*").alias("cnt")
    )
    diff = _dl.table_diff(v2, v1, ["o_orderkey"], emit="both")
    ins = diff.where("change_type IN ('insert','update')").select(
        "o_orderpriority", "p"
    )
    dele = diff.where("change_type IN ('delete','update')").select(
        F.col("prev_o_orderpriority").alias("o_orderpriority"),
        F.col("prev_p").alias("p"),
    )
    maintained = _dl.incremental_aggregate(
        state,
        ["o_orderpriority"],
        [AggregateExpr("p", "sum", "sum_price"), AggregateExpr("*", "count", "cnt")],
        inserted=ins,
        deleted=dele,
    )
    return maintained.select(
        "o_orderpriority", F.col("sum_price").cast("double").alias("sum_price"), "cnt"
    )


_INCR_AGG_ORACLE = """
WITH v2 AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 3 = 0
              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT o_orderpriority,
       CAST(SUM(p) AS DOUBLE) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM v2 GROUP BY o_orderpriority
"""


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations engine: an 8-check battery over
    lineitem — every row-local check a conditional sum in ONE
    aggregation job (vs the reference's job-per-metric,
    quality/DataQualityChecker.scala:61-114), unique as count-distinct
    state in the same job, referential integrity as anti-join counts
    (one passing against orders, one with REAL orphans against the
    positive-balance supplier subset). Report rows are exact integers."""
    from etl_spark_gradle_spark.quality import expectations_report

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp_pos = _t(spark, sf_dir, "supplier").where("s_acctbal > 0")
    checks = [
        {"type": "not_null", "column": "l_orderkey"},
        {"name": "range:l_quantity:1-30", "type": "range", "column": "l_quantity",
         "lo": 1, "hi": 30},
        {"type": "in_set", "column": "l_returnflag", "values": ["A", "N", "R"]},
        {"type": "pattern", "column": "l_linestatus", "pattern": "^[FO]$"},
        {"name": "custom:positive_price", "type": "custom",
         "expr": "l_extendedprice > 0"},
        {"type": "unique", "column": "l_orderkey"},
        {"name": "ref:l_orderkey->orders", "type": "ref", "column": "l_orderkey",
         "ref_df": orders, "ref_column": "o_orderkey"},
        {"name": "ref:l_suppkey->supp_pos", "type": "ref", "column": "l_suppkey",
         "ref_df": supp_pos, "ref_column": "s_suppkey"},
    ]
    return expectations_report(li, checks)


_EXPECTATIONS_ORACLE = """
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem)
SELECT 'not_null:l_orderkey' AS check_name, 'not_null' AS check_type,
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT) AS violations,
       total, (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) = 0 AS passed FROM t
UNION ALL
SELECT 'range:l_quantity:1-30', 'range',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 30)) AS BIGINT),
       total, (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 30)) = 0 FROM t
UNION ALL
SELECT 'in_set:l_returnflag', 'in_set',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')) AS BIGINT),
       total, (SELECT COUNT(*) FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')) = 0 FROM t
UNION ALL
SELECT 'pattern:l_linestatus', 'pattern',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[FO]$')) AS BIGINT),
       total, (SELECT COUNT(*) FROM lineitem WHERE l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[FO]$')) = 0 FROM t
UNION ALL
SELECT 'custom:positive_price', 'custom',
       CAST((SELECT COUNT(*) FROM lineitem WHERE NOT COALESCE(l_extendedprice > 0, FALSE)) AS BIGINT),
       total, (SELECT COUNT(*) FROM lineitem WHERE NOT COALESCE(l_extendedprice > 0, FALSE)) = 0 FROM t
UNION ALL
SELECT 'unique:l_orderkey', 'unique',
       CAST((SELECT COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) FROM lineitem) AS BIGINT),
       total, (SELECT COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) FROM lineitem) = 0 FROM t
UNION ALL
SELECT 'ref:l_orderkey->orders', 'ref',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
             AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
       total, (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
             AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0 FROM t
UNION ALL
SELECT 'ref:l_suppkey->supp_pos', 'ref',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NOT NULL
             AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)) AS BIGINT),
       total, (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NOT NULL
             AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)) = 0 FROM t
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval evidence: rank documents against a 3-term probe
    and emit the INTEGER evidence (match-term count, summed tf, doc
    length) — exact and order-independent, proving tokenize → posting
    filter → df/scalar joins → per-doc re-agg end-to-end. The float
    BM25 score over these same integers is pinned bit-for-bit to a
    pure-Python reference in tests/test_retrieval.py (same split as
    lm_score, avoiding cross-engine ln() last-ulp drift). ASCII
    whitespace + lowercase parity per the model_score oracle note."""
    from etl_spark_gradle_spark.operators import retrieval as _rt

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = _rt.bm25_scores(docs, "doc_id", "text", ["the", "data", "model"])
    return out.select("doc_id", "n_match_terms", "sum_tf", "doc_len")


_BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), lens AS (
  SELECT doc_id, SUM(tf) AS doc_len FROM tf GROUP BY 1
), hits AS (
  SELECT * FROM tf WHERE term IN ('the', 'data', 'model')
)
SELECT h.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_match_terms,
       CAST(SUM(h.tf) AS BIGINT) AS sum_tf,
       CAST(ANY_VALUE(l.doc_len) AS BIGINT) AS doc_len
FROM hits h JOIN lens l USING (doc_id)
GROUP BY h.doc_id
"""


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords over the documents corpus
    (min_df=2 hapax cut, max_df_frac=0.9 stopword cut — the synthetic corpus shares a small vocabulary, so a tight cut would empty it): the ranking
    key is the EXACT long tf·idf_q product (idf nano-quantized first
    — the 9-dp posture), ties on the term string, so the per-doc
    row_number is engine-independent."""
    from etl_spark_gradle_spark.operators.retrieval import (
        tfidf_top_terms,
    )

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(
        docs, "doc_id", "text", k=3, min_df=2, max_df_frac=0.9
    )


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                                                  '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), nd AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents
), dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tf GROUP BY term HAVING COUNT(*) >= 2
), j AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         tf.tf * CAST(ROUND(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                            * 1e9) AS BIGINT) AS sq
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
  WHERE CAST(df AS DOUBLE) <= 0.9 * CAST(n AS DOUBLE)
), r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY sq DESC, term ASC) AS rnk
  FROM j
)
SELECT doc_id, CAST(rnk AS INT) AS rank, term, tf, df,
       CAST(sq AS DOUBLE) / 1e9 AS tfidf
FROM r WHERE rnk <= 3
"""


def q_cms_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS as a counting Bloom filter: prune lineitem to rows whose
    part key appears >= 40 times (per a width-256 sketch — narrow
    enough that collisions are part of what the oracle must replicate),
    then aggregate survivors per return flag. The probe side is never
    shuffled: depth broadcast joins + a scan predicate."""
    from etl_spark_gradle_spark.operators import sketch as _sk

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    cms = _sk.build_cms(li, "l_partkey", depth=4, width=256, hash_fn="md5")
    kept = _sk.cms_prune(
        li, "l_partkey", cms, depth=4, width=256, min_count=40, hash_fn="md5"
    )
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("kept_rows"),
        F.countDistinct("l_partkey").alias("kept_parts"),
    )


_CMS_PRUNE_ORACLE = """
WITH ds AS (SELECT unnest(range(4)) AS d),
cells AS (
  SELECT ds.d,
         CAST(('0x' || substr(md5('cms' || ds.d || ':' || CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS w,
         COUNT(*) AS cnt
  FROM lineitem CROSS JOIN ds
  WHERE l_partkey IS NOT NULL
  GROUP BY 1, 2
), keys AS (
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL
), probes AS (
  SELECT k.l_partkey, ds.d,
         CAST(('0x' || substr(md5('cms' || ds.d || ':' || CAST(k.l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS w
  FROM keys k CROSS JOIN ds
), est AS (
  SELECT p.l_partkey, MIN(COALESCE(c.cnt, 0)) AS e
  FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.w = c.w
  GROUP BY p.l_partkey
), keep AS (SELECT l_partkey FROM est WHERE e >= 40)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS kept_rows,
       CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS kept_parts
FROM lineitem l JOIN keep USING (l_partkey)
GROUP BY l_returnflag
"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance: bootstrap the customer
    dimension, then apply a sequenced change feed derived from orders
    (segment re-bands at each big order; consecutive identical bands
    collapse). Exercises: versioning, consecutive-duplicate collapse,
    untouched-key passthrough. The oracle replicates the timeline with
    window functions — attribute equality instead of the operator's
    xxhash64 fingerprint (same 2^-64 residual as table_diff)."""
    from etl_spark_gradle_spark.operators import delta as _dl

    _prep(spark)
    cu = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dim = _dl.scd2_init(
        cu.select("c_custkey", "c_mktsegment"),
        ["c_custkey"],
        ["c_mktsegment"],
        "1995-01-01",
    )
    chg = orders.where("o_totalprice > 350000").select(
        F.col("o_custkey").alias("c_custkey"),
        F.when(F.col("o_totalprice") > 450000, "HIGH").otherwise("STD").alias(
            "c_mktsegment"
        ),
        F.expr("o_orderdate + make_dt_interval(0,0,0, o_orderkey % 86400)").alias(
            "eff"
        ),
    )
    out = _dl.scd2_apply(dim, chg, ["c_custkey"], ["c_mktsegment"], "eff")
    return out.select(
        "c_custkey",
        "c_mktsegment",
        _fmt_ts("valid_from").alias("valid_from"),
        _fmt_ts("valid_to").alias("valid_to"),
        "is_current",
    )


_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '1995-01-01 00:00:00' AS ts
  FROM customer
), chg AS (
  SELECT o_custkey AS c_custkey,
         CASE WHEN o_totalprice > 450000 THEN 'HIGH' ELSE 'STD' END AS c_mktsegment,
         o_orderdate + to_seconds(CAST(o_orderkey % 86400 AS BIGINT)) AS ts
  FROM orders WHERE o_totalprice > 350000
), touched AS (
  SELECT DISTINCT c_custkey FROM chg
), timeline AS (
  SELECT d.c_custkey, d.c_mktsegment, d.ts, 0 AS src
  FROM dim d JOIN touched t ON d.c_custkey = t.c_custkey
  UNION ALL
  SELECT c_custkey, c_mktsegment, ts, 1 FROM chg
), marked AS (
  SELECT *,
         lag(c_mktsegment) OVER (PARTITION BY c_custkey ORDER BY src, ts) AS prev_seg
  FROM timeline
), surv AS (
  SELECT c_custkey, c_mktsegment, ts, src FROM marked
  WHERE prev_seg IS NULL OR c_mktsegment <> prev_seg
), ver AS (
  SELECT c_custkey, c_mktsegment, ts AS valid_from,
         lead(ts) OVER (PARTITION BY c_custkey ORDER BY src, ts) AS valid_to
  FROM surv
)
SELECT c_custkey, c_mktsegment,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
       valid_to IS NULL AS is_current
FROM ver
UNION ALL
SELECT d.c_custkey, d.c_mktsegment,
       strftime(d.ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       CAST(NULL AS VARCHAR) AS valid_to,
       TRUE AS is_current
FROM dim d ANTI JOIN touched t ON d.c_custkey = t.c_custkey
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous aggregate (hypertable rollup): events
    bucketed per event_type at 1h, then 6h and 1d derived by
    RE-AGGREGATING the next-finer bucket table (mergeable cnt/decimal-
    sum/min/max; coarse steps are exact multiples of fine) — raw data
    scanned once, coarser levels shuffle only bucket tables. All
    closings are exact counts, string-roundtrip decimal sums, and one
    fixed-order division — fully oracle-gated."""
    from etl_spark_gradle_spark.operators.timeseries import time_rollup

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return time_rollup(
        ev, "ts", ["value"], levels=[3600, 21600, 86400],
        group_by=["event_type"],
    )


_TIME_ROLLUP_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
  FROM events
), lv AS (SELECT unnest([3600, 21600, 86400]) AS step)
SELECT event_type,
       CAST(step AS BIGINT) AS level_seconds,
       (sec // step) * step AS bucket_ts,
       CAST(count(value) AS BIGINT) AS value_cnt,
       CASE WHEN count(value) > 0 THEN
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       END AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       CASE WHEN count(value) > 0 THEN
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           / CAST(count(value) AS DOUBLE)
       END AS value_avg
FROM base, lv
GROUP BY event_type, step, (sec // step) * step
"""


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language diversity profile of document sources: exact
    counts, Shannon entropy (nats) and the log-free Gini-Simpson
    index. Log closings are rounded to 9 decimals for the cross-engine
    gate (libm vs JVM ln may differ in the last ulp — the pmi
    posture); full-precision values are pinned against pure python in
    tests/test_infotheory.py."""
    from etl_spark_gradle_spark.operators.infotheory import category_entropy

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = category_entropy(docs, "source", group_by=["lang"])
    return out.select(
        "lang", "n", "n_categories",
        F.round("entropy_nats", 9).alias("entropy_nats"),
        F.round("simpson", 9).alias("simpson"),
    )


_ENTROPY_ORACLE = """
WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL GROUP BY 1, 2
), g AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_categories,
         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc,
         SUM(CAST(c AS HUGEINT) * CAST(c - 1 AS HUGEINT)) AS pairs
  FROM c GROUP BY 1
)
SELECT lang, n, n_categories,
  CASE WHEN n > 1
       THEN round(ln(CAST(n AS DOUBLE)) - clogc / CAST(n AS DOUBLE), 9)
       ELSE 0.0 END AS entropy_nats,
  CASE WHEN n > 1
       THEN round(1.0 - CAST(CAST(pairs AS VARCHAR) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 9)
       ELSE 0.0 END AS simpson
FROM g
"""


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the language mixes of even-
    vs odd-id documents (the symmetric, [0, ln 2]-bounded counterpart
    of tv_drift over the same split). Exact counts; the log summary is
    rounded to 9 decimals for the gate, full precision pinned in
    pytest."""
    from etl_spark_gradle_spark.operators.infotheory import js_divergence

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = js_divergence(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), "lang"
    )
    return out.select(
        "n_a", "n_b", "n_categories", F.round("js_nats", 9).alias("js_nats")
    )


_JS_DIVERGENCE_ORACLE = """
WITH a AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_a
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), b AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_b
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
), j AS (
  SELECT coalesce(a.category, b.category) AS category,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM a FULL JOIN b ON a.category IS NOT DISTINCT FROM b.category
), t AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM j
), terms AS (
  SELECT ta, tb,
         CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
         CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS q,
         n_a, n_b
  FROM j, t WHERE ta > 0 AND tb > 0
)
SELECT ta AS n_a, tb AS n_b,
       CAST(count(*) AS BIGINT) AS n_categories,
       round(SUM(
         (CASE WHEN n_a > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
          + CASE WHEN n_b > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
         / 2.0
       ), 9) AS js_nats
FROM terms GROUP BY ta, tb
"""


def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed KL divergence KL(even-docs || odd-docs) over language
    mixes — the directional companion of js_divergence (add-0.5
    Jeffreys smoothing over the union support keeps it finite when a
    side lacks a category). Log summary rounded to 9 decimals for the
    gate; full precision pinned in pytest."""
    from etl_spark_gradle_spark.operators.infotheory import kl_divergence

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = kl_divergence(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), "lang"
    )
    return out.select(
        "n_a", "n_b", "n_categories", F.round("kl_nats", 9).alias("kl_nats")
    )


_KL_DIVERGENCE_ORACLE = """
WITH a AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_a
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
), b AS (
  SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_b
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
), j AS (
  SELECT coalesce(a.category, b.category) AS category,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM a FULL JOIN b ON a.category IS NOT DISTINCT FROM b.category
), t AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS k
  FROM j
)
SELECT ta AS n_a, tb AS n_b, k AS n_categories,
  round(SUM(
    ((CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)))
    * ln(((CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)))
         / ((CAST(n_b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * CAST(k AS DOUBLE))))
  ), 9) AS kl_nats
FROM j, t WHERE ta > 0 AND tb > 0 GROUP BY ta, tb, k
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (set vs set — the companion of range_join's
    point-vs-interval): 7-day shipping windows of heavy R-flag lines
    overlapped against light A-flag lines of the SAME supplier. Binned
    equi-join on (supplier, 7-day bin) with the residual overlap
    predicate inside the join; each pair is emitted only in the
    canonical bin holding its overlap start, so no distinct shuffle is
    ever needed."""
    from etl_spark_gradle_spark.operators.relational import (
        interval_overlap_join,
    )

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_returnflag",
        "l_quantity",
        F.to_date("l_shipdate").alias("w_start"),
        F.date_add(F.to_date("l_shipdate"), 7).alias("w_end"),
    )
    a = base.where("l_returnflag = 'R' AND l_quantity > 45").drop(
        "l_returnflag", "l_quantity"
    )
    b = base.where("l_returnflag = 'A' AND l_quantity < 5").drop(
        "l_returnflag", "l_quantity"
    )
    out = interval_overlap_join(
        a, b, "w_start", "w_end", "w_start", "w_end",
        bin_size=7, keys=["l_suppkey"],
    )
    return out.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey_right").alias("r_orderkey"),
        F.col("l_linenumber_right").alias("r_linenumber"),
        F.date_format("w_start", "yyyy-MM-dd").alias("w_start"),
        F.date_format("w_end_right", "yyyy-MM-dd").alias("r_w_end"),
    )


_INTERVAL_JOIN_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag, l_quantity,
         CAST(l_shipdate AS DATE) AS w_start,
         CAST(l_shipdate AS DATE) + 7 AS w_end
  FROM lineitem
), a AS (SELECT * FROM base WHERE l_returnflag = 'R' AND l_quantity > 45),
b AS (SELECT * FROM base WHERE l_returnflag = 'A' AND l_quantity < 5)
SELECT a.l_suppkey, a.l_orderkey, a.l_linenumber,
       b.l_orderkey AS r_orderkey, b.l_linenumber AS r_linenumber,
       strftime(a.w_start, '%Y-%m-%d') AS w_start,
       strftime(b.w_end, '%Y-%m-%d') AS r_w_end
FROM a JOIN b ON a.l_suppkey = b.l_suppkey
 AND a.w_start <= b.w_end AND b.w_start <= a.w_end
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of A-flag lineitem prices against
    the R-flag reference: edges = the reference's exact type-1 deciles
    (histogram + distributed CDF), both sides binned identically,
    add-0.5 smoothed rates over the fixed nominal bin count. Exact
    totals; the log summary rounded to 9 decimals for the gate, full
    precision pinned in pytest."""
    from etl_spark_gradle_spark.operators.infotheory import psi_drift

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    out = psi_drift(
        li.where("l_returnflag = 'R'"),
        li.where("l_returnflag = 'A'"),
        "l_extendedprice",
        bins=10,
    )
    return out.select(
        "n_a", "n_b", "n_bins", F.round("psi", 9).alias("psi")
    )


_PSI_DRIFT_ORACLE = """
WITH av AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  WHERE l_returnflag = 'R' AND l_extendedprice IS NOT NULL
), bv AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  WHERE l_returnflag = 'A' AND l_extendedprice IS NOT NULL
), c AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c FROM av GROUP BY 1
), cdf AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM c
), probs AS (
  SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS p
), th AS (
  SELECT p, min(CASE WHEN cum >= greatest(1,
      CAST(ceil(p * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END) AS t
  FROM cdf CROSS JOIN probs GROUP BY p
), abin AS (
  SELECT (SELECT CAST(sum(CASE WHEN av.v > th.t THEN 1 ELSE 0 END) AS INT)
          FROM th) AS bin
  FROM av
), bbin AS (
  SELECT (SELECT CAST(sum(CASE WHEN bv.v > th.t THEN 1 ELSE 0 END) AS INT)
          FROM th) AS bin
  FROM bv
), ca AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_a FROM abin GROUP BY 1),
cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_b FROM bbin GROUP BY 1),
spine AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
j AS (
  SELECT spine.bin,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM spine LEFT JOIN ca ON spine.bin = ca.bin
             LEFT JOIN cb ON spine.bin = cb.bin
), t AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM j
)
SELECT ta AS n_a, tb AS n_b, CAST(10 AS BIGINT) AS n_bins,
  round(SUM(
    (((CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * 10.0))
     - ((CAST(n_b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * 10.0)))
    * ln(((CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * 10.0))
         / ((CAST(n_b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * 10.0)))
  ), 9) AS psi
FROM j, t WHERE ta > 0 AND tb > 0 GROUP BY ta, tb
"""


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependence profile of event_type x user-bucket from ONE joint
    groupBy (marginals derived from the joint table, raw frame scanned
    once): MI (nats), the algebraic full-grid chi-square (sum c^2/e -
    n, log-free) and Cramer's V. Log/accumulation closings rounded for
    the gate (9 / 6 / 9 decimals), full precision pinned in pytest."""
    from etl_spark_gradle_spark.operators.infotheory import mutual_information

    _prep(spark)
    ev = _t(spark, sf_dir, "events").withColumn(
        "ub", (F.col("user_id") % 4).cast("string")
    )
    out = mutual_information(ev, "event_type", "ub")
    return out.select(
        "n", "k_x", "k_y", "n_observed_pairs",
        F.round("mi_nats", 9).alias("mi_nats"),
        F.round("chi2", 6).alias("chi2"),
        F.round("cramers_v", 9).alias("cramers_v"),
    )


_MUTUAL_INFORMATION_ORACLE = """
WITH j AS (
  SELECT event_type AS x, CAST(user_id % 4 AS VARCHAR) AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
), mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM j GROUP BY 1),
my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM j GROUP BY 1),
t AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         (SELECT CAST(count(*) AS BIGINT) FROM mx) AS kx,
         (SELECT CAST(count(*) AS BIGINT) FROM my) AS ky
  FROM j
), cells AS (
  SELECT j.c, mx.cx, my.cy, t.n, t.kx, t.ky
  FROM j JOIN mx USING (x) JOIN my USING (y), t
)
SELECT n, kx AS k_x, ky AS k_y,
       CAST(count(*) AS BIGINT) AS n_observed_pairs,
       round(SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln((CAST(n AS DOUBLE) * CAST(c AS DOUBLE))
                      / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))), 9)
         AS mi_nats,
       round(SUM((CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
                 / ((CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))
                    / CAST(n AS DOUBLE)))
             - CAST(n AS DOUBLE), 6) AS chi2,
       round(CASE WHEN least(kx, ky) > 1 THEN
         sqrt((SUM((CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
                   / ((CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))
                      / CAST(n AS DOUBLE)))
               - CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(least(kx, ky) AS DOUBLE) - 1.0)))
       ELSE 0.0 END, 9) AS cramers_v
FROM cells GROUP BY n, kx, ky
"""


# ---------------------------------------------------------------------------
# Round-11 additions
# ---------------------------------------------------------------------------


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence of order status × priority — exact integer
    contingency (cells/row/col totals/N are longs), per-cell terms as
    (o·N − r·c)²/(r·c·N) with the square applied after a string-
    round-tripped double conversion, closed by the (x, y)-ordered
    fold (anova_f posture). Zero-observed grid cells contribute e."""
    from etl_spark_gradle_spark.operators.stats import chi_square

    _prep(spark)
    return chi_square(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


_CHI_SQUARE_ORACLE = """
WITH cells AS (
  SELECT o_orderstatus AS x, o_orderpriority AS y,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
), rt AS (
  SELECT x, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY x
), ct AS (
  SELECT y, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY y
), tot AS (
  SELECT CAST(SUM(r) AS BIGINT) AS n_tot,
         CAST(COUNT(*) AS BIGINT) AS nr
  FROM rt
), ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM ct),
grid AS (
  SELECT rt.x, ct.y, rt.r, ct.c, COALESCE(cells.o, 0) AS o,
         tot.n_tot, tot.nr, ctot.nc
  FROM rt CROSS JOIN ct
  LEFT JOIN cells ON cells.x = rt.x AND cells.y = ct.y
  CROSS JOIN tot CROSS JOIN ctot
), terms AS (
  SELECT x, y, n_tot, nr, nc,
         CASE WHEN CAST(CAST(CAST(r AS HUGEINT) * c * n_tot AS VARCHAR)
                        AS DOUBLE) > 0 THEN
           (CAST(CAST(CAST(o AS HUGEINT) * n_tot
                      - CAST(r AS HUGEINT) * c AS VARCHAR) AS DOUBLE)
            * CAST(CAST(CAST(o AS HUGEINT) * n_tot
                        - CAST(r AS HUGEINT) * c AS VARCHAR) AS DOUBLE))
           / CAST(CAST(CAST(r AS HUGEINT) * c * n_tot AS VARCHAR)
                  AS DOUBLE)
         ELSE 0.0 END AS t
  FROM grid
), agg AS (
  SELECT MAX(n_tot) AS n, MAX(nr) AS n_rows, MAX(nc) AS n_cols,
         list_reduce(
           list_prepend(0.0, list(t ORDER BY x, y)), (a, b) -> a + b
         ) AS chi2_raw
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_cols AS BIGINT) AS n_cols,
       CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
       CASE WHEN n_rows >= 2 AND n_cols >= 2 AND n > 0
            THEN chi2_raw END AS chi2,
       CASE WHEN n_rows >= 2 AND n_cols >= 2 AND n > 0 THEN
         sqrt(chi2_raw / (CAST(n AS DOUBLE)
              * CAST(least(n_rows, n_cols) - 1 AS DOUBLE)))
       END AS cramers_v,
       CASE WHEN n_rows >= 2 AND n_cols >= 2 AND n > 0 THEN
         {p_value}
       END AS p_value
FROM agg
""".format(
    p_value=_sql_pq(
        _sql_chi2_sf("chi2_raw", "(n_rows - 1) * (n_cols - 1)")
    )
)


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired-flag test: per order, flag A = status 'F',
    flag B = above-median-ish price (150k) — did the flags flip on
    the same units. Exact long cells, one conditional aggregation,
    continuity-corrected statistic."""
    from etl_spark_gradle_spark.operators.stats import mcnemar_test

    _prep(spark)
    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderstatus") == "F").cast("int").alias("fa"),
        (F.col("o_totalprice") > 150000.0).cast("int").alias("fb"),
    )
    return mcnemar_test(o, "fa", "fb")


_MCNEMAR_ORACLE = """
WITH f AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS fa,
         CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS fb
  FROM orders
), m AS (
  SELECT
    CAST(COUNT(CASE WHEN fa = 0 AND fb = 0 THEN 1 END) AS BIGINT) AS n00,
    CAST(COUNT(CASE WHEN fa = 0 AND fb = 1 THEN 1 END) AS BIGINT) AS n01,
    CAST(COUNT(CASE WHEN fa = 1 AND fb = 0 THEN 1 END) AS BIGINT) AS n10,
    CAST(COUNT(CASE WHEN fa = 1 AND fb = 1 THEN 1 END) AS BIGINT) AS n11
  FROM f
)
SELECT CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n, n00, n01, n10, n11,
       CASE WHEN n01 + n10 > 0 THEN
         ((abs(CAST(n01 AS DOUBLE) - CAST(n10 AS DOUBLE)) - 1)
          * (abs(CAST(n01 AS DOUBLE) - CAST(n10 AS DOUBLE)) - 1))
         / CAST(n01 + n10 AS DOUBLE)
       END AS chi2_mcnemar
FROM m
"""


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity W of order totals across
    priorities, per status — ANOVA on |x − level median| with the
    exact lower-discrete median, so no float enters before anova_f's
    own ordered close."""
    from etl_spark_gradle_spark.operators.stats import brown_forsythe

    _prep(spark)
    return brown_forsythe(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        "o_orderpriority",
        group_by=["o_orderstatus"],
    )


_BROWN_FORSYTHE_ORACLE = """
WITH base AS (
  SELECT o_orderstatus, o_orderpriority AS lvl, o_totalprice AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), cnt AS (
  SELECT o_orderstatus, lvl, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3
), cdf AS (
  SELECT o_orderstatus, lvl, v,
         SUM(c) OVER (PARTITION BY o_orderstatus, lvl ORDER BY v)
           AS cum,
         SUM(c) OVER (PARTITION BY o_orderstatus, lvl) AS n
  FROM cnt
), med AS (
  SELECT o_orderstatus, lvl,
         MIN(CASE WHEN cum >= greatest(1,
               CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT))
             THEN v END) AS m
  FROM cdf GROUP BY 1, 2
), dev AS (
  SELECT base.o_orderstatus, base.lvl,
         CAST(abs(base.v - med.m) AS DECIMAL(18,2)) AS x
  FROM base JOIN med ON base.o_orderstatus = med.o_orderstatus
                    AND base.lvl = med.lvl
), per AS (
  SELECT o_orderstatus, lvl,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS s,
         SUM(CAST(x * x AS DECIMAL(38,4))) AS sq
  FROM dev GROUP BY 1, 2
), terms AS (
  SELECT o_orderstatus, lvl, n, s, sq,
         (CAST(CAST(s AS VARCHAR) AS DOUBLE)
          * CAST(CAST(s AS VARCHAR) AS DOUBLE))
           / CAST(n AS DOUBLE) AS t
  FROM per
), agg AS (
  SELECT o_orderstatus,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k_levels,
         CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE) AS gs,
         CAST(CAST(SUM(sq) AS VARCHAR) AS DOUBLE) AS gsq,
         list_reduce(list_prepend(0.0, list(t ORDER BY lvl)),
                     (a, b) -> a + b) AS fold_a
  FROM terms GROUP BY o_orderstatus
)
SELECT o_orderstatus, n, k_levels,
       fold_a - gs * gs / CAST(n AS DOUBLE) AS ss_between,
       gsq - fold_a AS ss_within,
       CASE WHEN k_levels >= 2 AND n > k_levels AND gsq - fold_a > 0
            THEN ((fold_a - gs * gs / CAST(n AS DOUBLE))
                    / CAST(k_levels - 1 AS DOUBLE))
                 / ((gsq - fold_a) / CAST(n - k_levels AS DOUBLE))
       END AS f_stat,
       CASE WHEN k_levels >= 2 AND n > k_levels AND gsq - fold_a > 0
            THEN {p_value}
       END AS p_value
FROM agg
""".format(
    p_value=_sql_pq(
        _sql_f_sf(
            "((fold_a - gs * gs / CAST(n AS DOUBLE))"
            " / CAST(k_levels - 1 AS DOUBLE))"
            " / ((gsq - fold_a) / CAST(n - k_levels AS DOUBLE))",
            "k_levels - 1",
            "n - k_levels",
        )
    )
)


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer EWMA (α = 0.3) of order totals in key order —
    the applyInPandas sequential recursion; the oracle replays the
    identical α·x + β·y_prev three-op step via a recursive CTE, so
    raw doubles hash-match."""
    from etl_spark_gradle_spark.operators.timeseries import ewma

    _prep(spark)
    return ewma(
        _t(spark, sf_dir, "orders"),
        key_cols=["o_custkey"],
        order_col="o_orderkey",
        value_col="o_totalprice",
        alpha=0.3,
        output_col="ewma",
    )


_EWMA_ORACLE = """
WITH RECURSIVE base AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderkey) AS rn
  FROM orders WHERE o_orderkey IS NOT NULL
), r AS (
  SELECT o_custkey, o_orderkey, o_totalprice, rn,
         CAST(o_totalprice AS DOUBLE) AS sm
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.o_custkey, b.o_orderkey, b.o_totalprice, b.rn,
         0.3 * CAST(b.o_totalprice AS DOUBLE) + 0.7 * r.sm
  FROM base b JOIN r ON b.o_custkey = r.o_custkey
                    AND b.rn = r.rn + 1
)
SELECT o_custkey, o_orderkey, o_totalprice, sm AS ewma FROM r
"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier customer-lifetime curve: duration = days between
    a customer's first and last order, event = the customer has a
    finalized ('F') order, censored otherwise. The running survival
    product rides integer nano-quantized logs over prefix sums — no
    sequential float fold."""
    from etl_spark_gradle_spark.operators.timeseries import kaplan_meier

    _prep(spark)
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("o_orderdate"), F.min("o_orderdate")
            ).alias("dur"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
        )
    )
    return kaplan_meier(cust, "dur", "ev")


_KAPLAN_MEIER_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
              AS INTEGER) AS dur,
         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
  FROM orders GROUP BY o_custkey
), pts AS (
  SELECT dur AS t,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM cust GROUP BY dur
), cum AS (
  SELECT t, d, c,
         SUM(d + c) OVER (ORDER BY t) AS cum_rm,
         SUM(d + c) OVER () AS n_tot
  FROM pts
), risk AS (
  SELECT t, d, c,
         CAST(n_tot - (cum_rm - (d + c)) AS BIGINT) AS n_risk
  FROM cum
), q AS (
  SELECT t, d, c, n_risk,
         CASE WHEN d = 0 OR d >= n_risk THEN 0
              ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1e9)
                        AS BIGINT) END AS lq,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
  FROM risk
), s AS (
  SELECT t, d, c, n_risk,
         CAST(SUM(lq) OVER (ORDER BY t) AS BIGINT) AS cum_lq,
         CAST(SUM(dead) OVER (ORDER BY t) AS BIGINT) AS cum_dead
  FROM q
)
SELECT t, n_risk, d AS n_event, c AS n_censored,
       CASE WHEN cum_dead > 0 THEN 0.0
            ELSE round(exp(CAST(cum_lq AS DOUBLE) / 1e9), 9)
       END AS survival
FROM s ORDER BY t
"""


def q_aalen_johansen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen–Johansen cumulative incidence over the customer-lifetime
    frame with COMPETING exit causes: cause 1 = finalized with a
    high-value order history (max total > 150k), cause 2 = finalized
    low-value, 0 = censored (never finalized). All-cause S(t−) rides
    the KM quantized-log prefix sums exclusive of t; per-cause
    increments nano-quantize and prefix-sum exactly."""
    from etl_spark_gradle_spark.operators.timeseries import (
        aalen_johansen,
    )

    _prep(spark)
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("o_orderdate"), F.min("o_orderdate")
            ).alias("dur"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
            F.max("o_totalprice").alias("max_total"),
        )
        .select(
            "dur",
            F.when(F.col("ev") == 0, F.lit(0))
            .when(F.col("max_total") > 150000, F.lit(1))
            .otherwise(F.lit(2))
            .alias("cause"),
        )
    )
    return aalen_johansen(cust, "dur", "cause")


_AALEN_JOHANSEN_ORACLE = """
WITH cust AS (
  SELECT CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
              AS INTEGER) AS dur,
         CASE WHEN MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0
                       END) = 0 THEN 0
              WHEN MAX(o_totalprice) > 150000 THEN 1
              ELSE 2 END AS cause
  FROM orders GROUP BY o_custkey
), cells AS (
  SELECT dur AS t, CAST(cause AS VARCHAR) AS k,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM cust GROUP BY dur, cause
), pts AS (
  SELECT t,
         CAST(SUM(CASE WHEN k <> '0' THEN m ELSE 0 END) AS BIGINT)
           AS d,
         CAST(SUM(m) AS BIGINT) AS rm
  FROM cells GROUP BY t
), cum AS (
  SELECT t, d, rm,
         SUM(rm) OVER (ORDER BY t) AS cum_rm,
         SUM(rm) OVER () AS n_tot
  FROM pts
), risk AS (
  SELECT t, d, CAST(n_tot - (cum_rm - rm) AS BIGINT) AS n_risk
  FROM cum
), q AS (
  SELECT t, d, n_risk,
         CASE WHEN d = 0 OR d >= n_risk THEN 0
              ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1e9)
                        AS BIGINT) END AS lq,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
  FROM risk
), s AS (
  SELECT t, n_risk,
         CAST(SUM(lq) OVER (ORDER BY t) - lq AS BIGINT) AS cum_lq_ex,
         CAST(SUM(dead) OVER (ORDER BY t) - dead AS BIGINT)
           AS cum_dead_ex
  FROM q
), per_time AS (
  SELECT t, n_risk,
         CASE WHEN cum_dead_ex > 0 THEN 0.0
              ELSE round(exp(CAST(cum_lq_ex AS DOUBLE) / 1e9), 9)
         END AS s_prev
  FROM s
), incs AS (
  SELECT c.t, c.k, c.m, p.n_risk, p.s_prev,
         CAST(round(p.s_prev
                    * (CAST(c.m AS DOUBLE)
                       / CAST(p.n_risk AS DOUBLE))
                    * 1e9) AS BIGINT) AS inc
  FROM cells c JOIN per_time p ON c.t = p.t
  WHERE c.k <> '0'
)
SELECT t, k AS cause, n_risk, m AS n_event, s_prev AS surv_before,
       LEAST(1.0, round(CAST(SUM(inc) OVER (PARTITION BY k ORDER BY t)
                             AS DOUBLE) / 1e9, 9)) AS cif
FROM incs ORDER BY cause, t
"""


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard over the same customer-lifetime
    shape as kaplan_meier (duration = first-to-last order days, event
    = has a finalized order): H and Var[H] accumulate as integer
    1e9/1e15-quantized prefix sums — order-free, no float fold."""
    from etl_spark_gradle_spark.operators.timeseries import nelson_aalen

    _prep(spark)
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("o_orderdate"), F.min("o_orderdate")
            ).alias("dur"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
        )
    )
    return nelson_aalen(cust, "dur", "ev")


_NELSON_AALEN_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
              AS INTEGER) AS dur,
         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
  FROM orders GROUP BY o_custkey
), pts AS (
  SELECT dur AS t,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM cust GROUP BY dur
), cum AS (
  SELECT t, d, c,
         SUM(d + c) OVER (ORDER BY t) AS cum_rm,
         SUM(d + c) OVER () AS n_tot
  FROM pts
), risk AS (
  SELECT t, d, c,
         CAST(n_tot - (cum_rm - (d + c)) AS BIGINT) AS n_risk
  FROM cum
), q AS (
  SELECT t, d, c, n_risk,
         CASE WHEN d = 0 THEN 0
              ELSE CAST(round(CAST(d AS DOUBLE)
                              / CAST(n_risk AS DOUBLE) * 1e9)
                        AS BIGINT) END AS hq,
         CASE WHEN d = 0 THEN 0
              ELSE CAST(round(CAST(d AS DOUBLE)
                              / (CAST(n_risk AS DOUBLE)
                                 * CAST(n_risk AS DOUBLE)) * 1e15)
                        AS BIGINT) END AS vq
  FROM risk
)
SELECT t, n_risk, d AS n_event, c AS n_censored,
       CAST(CAST(SUM(hq) OVER (ORDER BY t) AS BIGINT) AS DOUBLE) / 1e9
         AS cum_hazard,
       CAST(CAST(SUM(vq) OVER (ORDER BY t) AS BIGINT) AS DOUBLE) / 1e15
         AS var_hazard
FROM q ORDER BY t
"""


def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the documents vocabulary (min_count 2): OLS of
    ln(freq) on ln(rank) with exact decimal(12,9) moment sums; ranks
    from the two-level scan, ties token-ascending."""
    from etl_spark_gradle_spark.operators.corpus import zipf_fit

    _prep(spark)
    return zipf_fit(
        _t(spark, sf_dir, "documents"), "text", min_count=2
    )


_ZIPF_ORACLE = """
WITH toks AS (
  SELECT lower(t.tok) AS token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                          x -> x <> '')) AS t(tok)
  WHERE text IS NOT NULL
), freqs AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks GROUP BY token HAVING COUNT(*) >= 2
), ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
  FROM freqs
), pts AS (
  SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(12,9))
           AS lx,
         CAST(round(ln(CAST(freq AS DOUBLE)), 9) AS DECIMAL(12,9))
           AS ly
  FROM ranked
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(CAST(SUM(lx) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(ly) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(lx * lx) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(ly * ly) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(lx * ly) AS VARCHAR) AS DOUBLE) AS sxy
  FROM pts
)
SELECT n_types,
       CASE WHEN CAST(n_types AS DOUBLE) * sxx - sx * sx > 0 THEN
         (CAST(n_types AS DOUBLE) * sxy - sx * sy)
           / (CAST(n_types AS DOUBLE) * sxx - sx * sx)
       END AS slope,
       CASE WHEN CAST(n_types AS DOUBLE) * sxx - sx * sx > 0 THEN
         (sy - ((CAST(n_types AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_types AS DOUBLE) * sxx - sx * sx)) * sx)
           / CAST(n_types AS DOUBLE)
       END AS intercept,
       CASE WHEN CAST(n_types AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n_types AS DOUBLE) * syy - sy * sy > 0 THEN
         ((CAST(n_types AS DOUBLE) * sxy - sx * sy)
          * (CAST(n_types AS DOUBLE) * sxy - sx * sy))
           / ((CAST(n_types AS DOUBLE) * sxx - sx * sx)
              * (CAST(n_types AS DOUBLE) * syy - sy * sy))
       END AS r2
FROM m
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch readability per document — pure per-row Catalyst
    regexp/fold expressions, no shuffle; counts are exact ints and
    the two scores close in identical IEEE order on both engines."""
    from etl_spark_gradle_spark.operators.text import with_readability

    _prep(spark)
    return with_readability(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "text"
    ).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch_ease",
        "fk_grade",
    )


_READABILITY_ORACLE = """
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL THEN []
              ELSE list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') END AS toks
  FROM documents
), counted AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(CASE WHEN text IS NULL THEN 0
              ELSE greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              END AS BIGINT) AS n_sentences,
         CAST(COALESCE(list_sum(list_transform(toks,
                w -> greatest(len(regexp_extract_all(lower(w),
                                                     '[aeiouy]+')), 1))),
              0) AS BIGINT) AS n_syllables
  FROM base
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         CAST(206.835 AS DOUBLE)
         - CAST(1.015 AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - CAST(84.6 AS DOUBLE)
           * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch_ease,
       CASE WHEN n_words > 0 THEN
         CAST(0.39 AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         + CAST(11.8 AS DOUBLE)
           * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         - CAST(15.59 AS DOUBLE)
       END AS fk_grade
FROM counted
"""


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: documents with doc_id % 19 == 0 play
    the TARGET corpus (the decontaminate split), the rest the raw
    training pool; hashed unigram+bigram bag-of-words models on both,
    per-bucket log-ratios quantized once to integer nano-units, exact
    long per-doc sums — one division closes."""
    from etl_spark_gradle_spark.operators.corpus import dsir_weights

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 19 != 0)
    target = docs.where(F.col("doc_id") % 19 == 0)
    return dsir_weights(
        train, target, "doc_id", "text", n_buckets=4096, smoothing=1.0
    )


_DSIR_ORACLE = """
WITH tr AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 19 <> 0
), tg AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 19 = 0
), trf AS (
  SELECT doc_id, f FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM tr WHERE text IS NOT NULL
  ), unnest(list_concat(tk,
       CASE WHEN len(tk) >= 2 THEN
         [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       ELSE [] END)) AS t(f)
), tgf AS (
  SELECT f FROM (
    SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM tg WHERE text IS NOT NULL
  ), unnest(list_concat(tk,
       CASE WHEN len(tk) >= 2 THEN
         [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
       ELSE [] END)) AS t(f)
), trb AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('dsir:' || f), 1, 8)) AS BIGINT)
              % 4096 AS BIGINT) AS b
  FROM trf
), tgb AS (
  SELECT CAST(CAST(('0x' || substr(md5('dsir:' || f), 1, 8)) AS BIGINT)
              % 4096 AS BIGINT) AS b
  FROM tgf
), rawc AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM trb GROUP BY b
), tgtc AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tgb GROUP BY b
), tots AS (
  SELECT (SELECT SUM(cr) FROM rawc) AS nr,
         (SELECT SUM(ct) FROM tgtc) AS nt
), tbl AS (
  SELECT rawc.b,
         CAST(round((ln((CAST(COALESCE(tgtc.ct, 0) AS DOUBLE) + 1.0)
                        / (CAST(tots.nt AS DOUBLE) + 1.0 * 4096.0))
                     - ln((CAST(rawc.cr AS DOUBLE) + 1.0)
                          / (CAST(tots.nr AS DOUBLE) + 1.0 * 4096.0)))
                    * 1e9) AS BIGINT) AS dlq
  FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b CROSS JOIN tots
), scored AS (
  SELECT trb.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_features,
         CAST(SUM(tbl.dlq) AS BIGINT) AS q
  FROM trb JOIN tbl ON trb.b = tbl.b
  GROUP BY trb.doc_id
)
SELECT tr.doc_id,
       COALESCE(scored.n_features, 0) AS n_features,
       COALESCE(CAST(scored.q AS DOUBLE) / 1e9, 0.0) AS log_weight
FROM (SELECT DISTINCT doc_id FROM tr) tr
LEFT JOIN scored ON tr.doc_id = scored.doc_id
"""


def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA (α = 0.25) of event values per user, drained
    availableNow through applyInPandasWithState with ONE DOUBLE of
    state per user — rows replay the batch recursion bit-identically
    on a key-ordered feed, which is what the recursive-CTE oracle
    computes."""
    import shutil

    from etl_spark_gradle_spark import streaming as st

    _prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    run = uuid.uuid4()
    src_dir = os.path.join(_SCRATCH, f"ewma_src_{run}")
    out_path = os.path.join(_SCRATCH, f"ewma_out_{run}")
    ckpt = os.path.join(_SCRATCH, f"ewma_ckpt_{run}")
    os.makedirs(src_dir, exist_ok=True)
    shutil.copy(
        f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet")
    )
    stream = _normalize_event_ts(
        spark.readStream.schema(schema).parquet(src_dir)
    ).select("user_id", "ts", "event_id", "value")
    smoothed = st.ewma_stream(
        stream,
        key_col="user_id",
        time_col="ts",
        value_col="value",
        alpha=0.25,
        tiebreak_col="event_id",
        watermark_delay="0 seconds",
    )
    st.write_stream(
        smoothed,
        {"path": out_path, "checkpointLocation": ckpt, "format": "parquet"},
        output_mode="append",
        await_termination=True,
    )
    out = spark.read.parquet(out_path)
    return out.select(
        "user_id",
        _fmt_ts(F.col("ts")).alias("ts"),
        "value",
        "ewma",
    )


_STREAMING_EWMA_ORACLE = """
WITH RECURSIVE base AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), r AS (
  SELECT user_id, ts, v, rn, v AS sm FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.ts, b.v, b.rn, 0.25 * b.v + 0.75 * r.sm
  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       v AS value, sm AS ewma
FROM r
"""


def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between document language and
    source — the asymmetric association MI/Cramér's V can't give
    (which attribute predicts which). One joint groupBy; log closings
    rounded 9 dp (the infotheory posture), U a division of the two
    rounded values."""
    from etl_spark_gradle_spark.operators.infotheory import theil_u

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return theil_u(docs, "lang", "source")


_THEIL_U_ORACLE = """
WITH j AS (
  SELECT lang AS x, source AS y, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), cells AS (
  SELECT x, y, c,
         SUM(c) OVER (PARTITION BY x) AS cx,
         SUM(c) OVER (PARTITION BY y) AS cy,
         SUM(c) OVER () AS n,
         COUNT(*) OVER (PARTITION BY x) AS kcx,
         COUNT(*) OVER (PARTITION BY y) AS kcy
  FROM j
), agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT x) AS BIGINT) AS k_x,
         CAST(COUNT(DISTINCT y) AS BIGINT) AS k_y,
         SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             * ln((CAST(n AS DOUBLE) * CAST(c AS DOUBLE))
                  / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))) AS mi,
         SUM((CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE)))
             / CAST(kcx AS DOUBLE)) AS sx,
         SUM((CAST(cy AS DOUBLE) * ln(CAST(cy AS DOUBLE)))
             / CAST(kcy AS DOUBLE)) AS sy
  FROM cells
), r AS (
  SELECT n, k_x, k_y,
         round(mi, 9) AS mi_nats,
         round(ln(CAST(n AS DOUBLE)) - sx / CAST(n AS DOUBLE), 9) AS h_x,
         round(ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE), 9) AS h_y
  FROM agg
)
SELECT n, k_x, k_y, mi_nats, h_x, h_y,
       CASE WHEN h_x > 0 THEN round(mi_nats / h_x, 9) END
         AS u_x_given_y,
       CASE WHEN h_y > 0 THEN round(mi_nats / h_y, 9) END
         AS u_y_given_x
FROM r
"""


def q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of the 64-d embeddings to the top-8 subspace: the Gram/mean
    accumulate in ONE mapInPandas pass (d² per PARTITION, never per
    row), eigh on the driver, and the projection is k pure-Catalyst
    dot products riding the scan. Eigendecomposition is not
    SQL-expressible — no oracle entry by design (the documented
    rows-only gate); full-precision parity vs numpy is pinned in
    tests/test_r11_operators.py."""
    from etl_spark_gradle_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    comps, evals, mean, _n = pca_fit(emb, "embedding", k=8)
    out = pca_project(emb, "embedding", comps, mean=mean)
    # surface the coordinates as rounded columns so the rows-only
    # check sees a stable, inspectable schema
    return out.select(
        "vec_id",
        "label",
        *[
            F.round(F.element_at("pca", i + 1), 6).alias(f"pc{i + 1}")
            for i in range(8)
        ],
    )


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between order quantity and discount — do bigger
    line items get deeper discounts. Both columns are bounded-
    cardinality (50 × 11 cells), the operator's contract: C/D from a
    cell×cell inequality join, exact decimal pair counts, one
    fixed-order float close."""
    from etl_spark_gradle_spark.operators.stats import kendall_tau

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("q"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc"),
    )
    return kendall_tau(li, "q", "disc")


_KENDALL_TAU_ORACLE = """
WITH src AS (
  SELECT CAST(l_quantity AS INTEGER) AS x,
         CAST(round(l_discount * 100) AS INTEGER) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY 1, 2
), pair_sums AS (
  SELECT SUM(CASE WHEN b.y > a.y
                  THEN CAST(a.c AS HUGEINT) * b.c END) AS C,
         SUM(CASE WHEN b.y < a.y
                  THEN CAST(a.c AS HUGEINT) * b.c END) AS D
  FROM cells a JOIN cells b ON b.x > a.x
), tx AS (
  SELECT SUM(CAST(m AS HUGEINT) * (m - 1)) AS t FROM (
    SELECT CAST(SUM(c) AS BIGINT) AS m FROM cells GROUP BY x)
), ty AS (
  SELECT SUM(CAST(m AS HUGEINT) * (m - 1)) AS t FROM (
    SELECT CAST(SUM(c) AS BIGINT) AS m FROM cells GROUP BY y)
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
SELECT tot.n,
       CAST(COALESCE(pair_sums.C, 0) AS VARCHAR) AS concordant,
       CAST(COALESCE(pair_sums.D, 0) AS VARCHAR) AS discordant,
       CAST(tx.t // 2 AS VARCHAR) AS ties_x,
       CAST(ty.t // 2 AS VARCHAR) AS ties_y,
       CASE WHEN CAST(tot.n AS HUGEINT) * (tot.n - 1) - tx.t > 0
             AND CAST(tot.n AS HUGEINT) * (tot.n - 1) - ty.t > 0 THEN
         (2.0 * CAST(CAST(COALESCE(pair_sums.C, 0)
                          - COALESCE(pair_sums.D, 0) AS VARCHAR)
                     AS DOUBLE))
         / sqrt(CAST(CAST(CAST(tot.n AS HUGEINT) * (tot.n - 1) - tx.t
                          AS VARCHAR) AS DOUBLE)
                * CAST(CAST(CAST(tot.n AS HUGEINT) * (tot.n - 1) - ty.t
                            AS VARCHAR) AS DOUBLE))
       END AS tau_b
FROM tot, pair_sums, tx, ty
"""


def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do BUILDING-segment customers outlive (keep
    ordering longer than) MACHINERY-segment customers — the KM
    companion on the same per-customer duration/event prep, sides
    from the customer dimension (broadcast join). Per-time O−E and
    variance quantized to nano-units, summed exactly."""
    from etl_spark_gradle_spark.operators.timeseries import logrank_test

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("o_orderdate"), F.min("o_orderdate")
            ).alias("dur"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
        )
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    )
    return logrank_test(
        per_cust, "dur", "ev", "c_mktsegment",
        side_a="BUILDING", side_b="MACHINERY",
    )


_LOGRANK_ORACLE = """
WITH per_cust AS (
  SELECT o.o_custkey,
         CAST(date_diff('day', MIN(o.o_orderdate), MAX(o.o_orderdate))
              AS INTEGER) AS dur,
         MAX(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev,
         ANY_VALUE(c.c_mktsegment) AS seg
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
  GROUP BY o.o_custkey
), pts AS (
  SELECT dur AS t,
         CAST(SUM(CASE WHEN seg = 'BUILDING' THEN ev ELSE 0 END)
              AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN ev ELSE 0 END)
              AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
              AS BIGINT) AS r1,
         CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
              AS BIGINT) AS r2
  FROM per_cust GROUP BY dur
), cum AS (
  SELECT t, d1, d2, r1, r2,
         SUM(r1) OVER (ORDER BY t) AS cr1,
         SUM(r2) OVER (ORDER BY t) AS cr2,
         SUM(r1) OVER () AS n1_tot,
         SUM(r2) OVER () AS n2_tot
  FROM pts
), q AS (
  SELECT d1, d2, r1, r2, n1_tot, n2_tot,
         CAST(n1_tot - (cr1 - r1) AS DOUBLE) AS n1,
         CAST(n2_tot - (cr2 - r2) AS DOUBLE) AS n2,
         CAST(d1 + d2 AS DOUBLE) AS d
  FROM cum
), terms AS (
  SELECT n1_tot, n2_tot, d1, d2,
         CASE WHEN d > 0 THEN
           CAST(round((CAST(d1 AS DOUBLE) - d * n1 / (n1 + n2)) * 1e9)
                AS BIGINT) ELSE 0 END AS oe,
         CASE WHEN d > 0 AND n1 + n2 > 1 THEN
           CAST(round((((d * (n1 / (n1 + n2)))
                        * (1.0 - n1 / (n1 + n2)))
                       * ((n1 + n2) - d) / ((n1 + n2) - 1.0)) * 1e9)
                AS BIGINT) ELSE 0 END AS v
  FROM q
), agg AS (
  SELECT CAST(MAX(n1_tot) AS BIGINT) AS n_a,
         CAST(MAX(n2_tot) AS BIGINT) AS n_b,
         CAST(SUM(d1) AS BIGINT) AS events_a,
         CAST(SUM(d2) AS BIGINT) AS events_b,
         CAST(SUM(oe) AS BIGINT) AS soe,
         CAST(SUM(v) AS BIGINT) AS sv
  FROM terms
)
SELECT n_a, n_b, events_a, events_b,
       CAST(soe AS DOUBLE) / 1e9 AS o_minus_e,
       CAST(sv AS DOUBLE) / 1e9 AS var_o,
       CASE WHEN sv > 0 THEN
         (CAST(soe AS DOUBLE) / 1e9) / sqrt(CAST(sv AS DOUBLE) / 1e9)
       END AS z,
       CASE WHEN sv > 0 THEN
         ((CAST(soe AS DOUBLE) / 1e9) / sqrt(CAST(sv AS DOUBLE) / 1e9))
         * ((CAST(soe AS DOUBLE) / 1e9)
            / sqrt(CAST(sv AS DOUBLE) / 1e9))
       END AS chi2,
       CASE WHEN sv > 0 THEN {p_value} END AS p_value
FROM agg
""".format(
    p_value=_sql_pq(
        _sql_chi2_sf(
            "((CAST(soe AS DOUBLE) / 1e9)"
            " / sqrt(CAST(sv AS DOUBLE) / 1e9))"
            " * ((CAST(soe AS DOUBLE) / 1e9)"
            " / sqrt(CAST(sv AS DOUBLE) / 1e9))",
            "1",
        )
    )
)


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on DAILY order volume — "is order
    intake monotonically trending". The raw table reduces to one row
    per day first (the operator's bounded-cell contract), then S and
    the tie-corrected variance close from exact pair counts."""
    from etl_spark_gradle_spark.operators.stats import mann_kendall

    _prep(spark)
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.col("o_orderdate"),
                F.lit("1992-01-01").cast("date"),
            ).alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return mann_kendall(daily, "day", "cnt")


_MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM daily
  WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1, 2
), pair_sums AS (
  SELECT SUM(CASE WHEN b.y > a.y
                  THEN CAST(a.c AS HUGEINT) * b.c END) AS C,
         SUM(CASE WHEN b.y < a.y
                  THEN CAST(a.c AS HUGEINT) * b.c END) AS D
  FROM cells a JOIN cells b ON b.x > a.x
), ties AS (
  SELECT SUM(CAST(m AS HUGEINT) * (m - 1) * (2 * CAST(m AS HUGEINT) + 5))
           AS tv
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS m FROM cells GROUP BY y)
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
r AS (
  SELECT tot.n,
         COALESCE(pair_sums.C, 0) - COALESCE(pair_sums.D, 0) AS s_int,
         CAST(CAST(CAST(tot.n AS HUGEINT) * (tot.n - 1)
                   * (2 * CAST(tot.n AS HUGEINT) + 5) - ties.tv
                   AS VARCHAR) AS DOUBLE) / 18.0 AS var_s
  FROM tot, pair_sums, ties
)
SELECT n,
       CAST(s_int AS VARCHAR) AS s,
       CASE WHEN n >= 2 THEN var_s END AS var_s,
       CASE WHEN n >= 2 AND var_s > 0 THEN
         CASE WHEN CAST(CAST(s_int AS VARCHAR) AS DOUBLE) > 0 THEN
                (CAST(CAST(s_int AS VARCHAR) AS DOUBLE) - 1)
                  / sqrt(var_s)
              WHEN CAST(CAST(s_int AS VARCHAR) AS DOUBLE) < 0 THEN
                (CAST(CAST(s_int AS VARCHAR) AS DOUBLE) + 1)
                  / sqrt(var_s)
              ELSE 0.0 END
       END AS z
FROM r
"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of MONTHLY order volume — the trend
    line a single anomalous month cannot bend (contrast OLS). One row
    per month first, then the weighted median of pairwise slopes from
    exact cumulative weights."""
    from etl_spark_gradle_spark.operators.stats import theil_sen

    _prep(spark)
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).alias("m")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return theil_sen(monthly, "m", "cnt")


_THEIL_SEN_ORACLE = """
WITH monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mx,
         CAST(COUNT(*) AS BIGINT) AS my
  FROM orders GROUP BY 1
), pts AS (
  SELECT CAST(mx AS DOUBLE) AS x, CAST(my AS DOUBLE) AS y
  FROM monthly WHERE mx IS NOT NULL AND my IS NOT NULL
), cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM pts GROUP BY 1, 2
), slopes AS (
  SELECT (b.y - a.y) / (b.x - a.x) AS s,
         CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS w
  FROM cells a JOIN cells b ON b.x > a.x
  GROUP BY 1
), cdf AS (
  SELECT s, SUM(w) OVER (ORDER BY s) AS cum, SUM(w) OVER () AS wt
  FROM slopes
), med AS (
  SELECT MIN(s) AS slope, CAST(MAX(wt) AS VARCHAR) AS n_pairs
  FROM cdf
  WHERE cum >= CAST(ceil(CAST(wt AS DOUBLE) * 0.5) AS HUGEINT)
), xm AS (
  SELECT MIN(CASE WHEN cum >= greatest(1,
           CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END)
           AS mx
  FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
               SUM(c) OVER () AS n
        FROM (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM pts GROUP BY 1))
), ym AS (
  SELECT MIN(CASE WHEN cum >= greatest(1,
           CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)) THEN v END)
           AS my
  FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
               SUM(c) OVER () AS n
        FROM (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM pts GROUP BY 1))
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts)
SELECT tot.n,
       COALESCE(med.n_pairs, '0') AS n_pairs,
       med.slope AS slope,
       ym.my - med.slope * xm.mx AS intercept
FROM tot, med, xm, ym
"""


def q_cox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional hazards on customer lifetimes: duration/event
    as in kaplan_meier, covariates = scaled account balance and order
    count. Iterative Newton with distributed sufficient statistics
    (suffix risk-set sums via prefix sums, β as driver literals) —
    not SQL-expressible, the documented rows-only gate; numpy-parity
    pinned in pytest."""
    from etl_spark_gradle_spark.operators.timeseries import cox_ph

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("o_orderdate"), F.min("o_orderdate")
            ).alias("dur"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
            F.count(F.lit(1)).cast("double").alias("n_orders"),
        )
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .withColumn(
            "bal_k", (F.col("c_acctbal") / F.lit(1000.0))
        )
    )
    out = cox_ph(per, "dur", "ev", ["bal_k", "n_orders"], iterations=8)
    # round for a stable rows-only schema read
    return out.select(
        "covariate",
        F.round("beta", 9).alias("beta"),
        F.round("hazard_ratio", 9).alias("hazard_ratio"),
        F.round("se", 9).alias("se"),
        F.round("z", 9).alias("z"),
        "n",
        "n_events",
    )


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at τ = 1825 days (5 years) over
    the kaplan_meier customer-lifetime prep — the area under the step
    curve as an exact rectangle sum: per-row rectangles in fixed
    float order, folded time-sorted (anova posture), the [0, t₁)
    seed at S = 1 added AFTER the fold (the oracle replays the same
    order)."""
    from etl_spark_gradle_spark.operators.timeseries import rmst

    _prep(spark)
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("o_orderdate"), F.min("o_orderdate")
            ).alias("dur"),
            F.max(
                (F.col("o_orderstatus") == "F").cast("int")
            ).alias("ev"),
        )
    )
    return rmst(cust, "dur", "ev", tau=1825.0)


_RMST_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
              AS INTEGER) AS dur,
         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
  FROM orders GROUP BY o_custkey
), pts AS (
  SELECT dur AS t,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM cust GROUP BY dur
), cum AS (
  SELECT t, d, c,
         SUM(d + c) OVER (ORDER BY t) AS cum_rm,
         SUM(d + c) OVER () AS n_tot
  FROM pts
), risk AS (
  SELECT t, d, c,
         CAST(n_tot - (cum_rm - (d + c)) AS BIGINT) AS n_risk
  FROM cum
), q AS (
  SELECT t, d, c, n_risk,
         CASE WHEN d = 0 OR d >= n_risk THEN 0
              ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1e9)
                        AS BIGINT) END AS lq,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
  FROM risk
), s AS (
  SELECT t, d, c,
         CASE WHEN CAST(SUM(dead) OVER (ORDER BY t) AS BIGINT) > 0
              THEN 0.0
              ELSE round(exp(CAST(CAST(SUM(lq) OVER (ORDER BY t)
                                       AS BIGINT) AS DOUBLE) / 1e9), 9)
         END AS surv
  FROM q
), rects AS (
  SELECT CAST(t AS DOUBLE) AS t,
         surv * (least(COALESCE(CAST(lead(t) OVER (ORDER BY t)
                                     AS DOUBLE), 1825.0), 1825.0)
                 - least(CAST(t AS DOUBLE), 1825.0)) AS r,
         d + c AS m
  FROM s
), agg AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n,
         least(MIN(t), 1825.0) AS t1,
         list_reduce(list_prepend(0.0, list(r ORDER BY t)),
                     (a, b) -> a + b) AS area
  FROM rects
)
SELECT 1825.0 AS tau, n,
       t1 + area AS rmst,
       (t1 + area) / 1825.0 AS rmst_frac
FROM agg
"""


# Gate window (the driver's correctness gate records the FIRST 50
# entries of queries()). Computed by ``python tools/rotation.py
# --emit-window`` under the staleness policy documented in COVERAGE.md.
# The 10 _ROUND_PINS lead, then the OLDEST recorded rows — all 25
# r07-vintage queries and the 15 stalest r08 rows. cox/pca are
# hard-excluded (_EXCLUDE_NO_ORACLE: rows-only forever; a slot spent
# there is a stale query not re-recorded). The rotation policy is now
# recorded-round-primary, so the stale tail drains ~40 rows/round by
# construction regardless of module-touch noise.
# Regenerate per round; do not hand-edit order.
_GATE_WINDOW: list[str] = [
    "chi_square",
    "anova",
    "brown_forsythe",
    "kruskal_wallis",
    "cochran_armitage",
    "mantel_haenszel",
    "logrank",
    "fdr_by",
    "tfidf",
    "aalen_johansen",
    "expectations",
    "triangle_count",
    "cusum",
    "entropy",
    "js_divergence",
    "kl_divergence",
    "kmv_distinct",
    "kmv_jaccard",
    "psi_drift",
    "robust_scale",
    "rolling_active",
    "target_encode",
    "time_rollup",
    "vocab_overlap",
    "keyword_tag",
    "fold_accents",
    "gopher_rules",
    "script_profile",
    "prefix_jaccard",
    "streaming_rollup",
    "roundtrip_xml",
    "bloom_semi_join",
    "parquet_stats",
    "streaming_cusum",
    "streaming_scd2",
    "multiple_regression",
    "benford",
    "discount_elasticity",
    "feature_pipeline",
    "impute",
    "pareto",
    "prop_ztest",
    "quantile_clip",
    "quantile_normalize",
    "reorder_intervals",
    "topk_recall",
    "trimmed_mean",
    "welch_ttest",
    "bfs_distance",
    "pagerank",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering contract: the driver's correctness gate records the
    FIRST 50 dict entries, so the returned dict is the full registry
    reordered to put ``_GATE_WINDOW`` first. The window is rotated
    each round by ``tools/rotation.py`` under a staleness policy
    (see COVERAGE.md "Gate-window rotation"): pinned adjudication
    targets first, then the queries whose operator code was touched
    most recently AFTER their last driver-recorded row.

    Round-9 window: ``ecdf`` leads (slots 1-3 with its prefix-sum
    siblings). History: ecdf was hash-red in r6 and r7 with
    rows/schema green. Root cause (diagnosed r8): the ORACLE emitted
    a DuckDB HUGEINT (`sum(BIGINT)` → INT128 → pandas float64), so
    the driver's representation-sensitive hash saw `3356.0` vs
    Spark's int64 `3356` while value-equality compares passed
    locally. Fixed in r8 with an explicit CAST AS BIGINT
    (tests/test_gate_window.py statically rejects HUGEINT oracle
    columns; tools/check_oracle.py flags dtype-CLASS mismatches) —
    but the r8 window rotation slipped and never recorded it, so the
    fix remains driver-unconfirmed until a green ``ecdf`` row lands
    in CORRECTNESS_r09. All declared queries remain oracle-checked locally
    by tools/check_oracle.py at both SFs regardless of position."""
    reg = _registry()
    out = {name: reg[name] for name in _GATE_WINDOW}
    out.update((k, v) for k, v in reg.items() if k not in out)
    return out


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query, grouped by the round that introduced it
    (ordering here is NOT the gate window — queries() applies
    _GATE_WINDOW on top)."""
    from etl_spark_gradle_spark import tpch as _tpch

    return {
        # ---- r8 additions ----
        "association_rules": q_association_rules,
        "feature_hash": q_feature_hash,
        "rfm": q_rfm,
        "pareto": q_pareto,
        "batch_sessionize": q_batch_sessionize,
        "debounce": q_debounce,
        "ohlc": q_ohlc,
        "twap": q_twap,
        "lag_features": q_lag_features,
        "negative_sample": q_negative_sample,
        "rolling_zscore": q_rolling_zscore,
        "streaming_debounce": q_streaming_debounce,
        "streaming_kmv": q_streaming_kmv,
        "streaming_topk": q_streaming_topk,
        "streaming_histogram": q_streaming_histogram,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "prop_ztest": q_prop_ztest,
        "consolidate": q_consolidate,
        "churn_labels": q_churn_labels,
        "skew_report": q_skew_report,
        "event_trigrams": q_event_trigrams,
        "activity_heatmap": q_activity_heatmap,
        "naive_forecast_error": q_naive_forecast_error,
        "cohort_ltv": q_cohort_ltv,
        "reorder_intervals": q_reorder_intervals,
        "embedding_drift": q_embedding_drift,
        "rule_significance": q_rule_significance,
        "fk_coverage": q_fk_coverage,
        "co_item_recs": q_co_item_recs,
        "ship_delay": q_ship_delay,
        "discount_elasticity": q_discount_elasticity,
        "weekly_trend": q_weekly_trend,
        "basket_size_dist": q_basket_size_dist,
        "spend_gini": q_spend_gini,
        "trimmed_mean": q_trimmed_mean,
        "rolling_median": q_rolling_median,
        "quantile_normalize": q_quantile_normalize,
        "impute": q_impute,
        "topk_recall": q_topk_recall,
        "weighted_reservoir": q_weighted_reservoir,
        "multiple_regression": q_multiple_regression,
        "benford": q_benford,
        "volume_anomaly": q_volume_anomaly,
        "feature_pipeline": q_feature_pipeline,
        "kmeans": q_kmeans,
        "kmeans_spread": q_kmeans_spread,
        "auc": q_auc,
        "classification_report": q_classification_report,
        "lift_table": q_lift_table,
        "cohens_kappa": q_cohens_kappa,
        "isotonic": q_isotonic,
        "regression_metrics": q_regression_metrics,
        "brier_ece": q_brier_ece,
        "t_closeness": q_t_closeness,
        "spearman": q_spearman,
        "ndcg": q_ndcg,
        "mrr": q_mrr,
        "decontaminate": q_decontaminate,
        "pr_curve": q_pr_curve,
        "average_precision": q_average_precision,
        "roc_curve": q_roc_curve,
        "mcc": q_mcc,
        "fleiss_kappa": q_fleiss_kappa,
        "fdr_bh": q_fdr_bh,
        "containment": q_containment,
        # ---- r11 additions ----
        "chi_square": q_chi_square,
        "mcnemar": q_mcnemar,
        "brown_forsythe": q_brown_forsythe,
        "ewma": q_ewma,
        "kaplan_meier": q_kaplan_meier,
        "nelson_aalen": q_nelson_aalen,
        "zipf": q_zipf,
        "readability": q_readability,
        "dsir": q_dsir,
        "streaming_ewma": q_streaming_ewma,
        "theil_u": q_theil_u,
        "pca": q_pca,
        "kendall_tau": q_kendall_tau,
        "logrank": q_logrank,
        "mann_kendall": q_mann_kendall,
        "theil_sen": q_theil_sen,
        "cox": q_cox,
        "rmst": q_rmst,
        "anova": q_anova,
        "tukey_hsd": q_tukey_hsd,
        "cronbach_alpha": q_cronbach_alpha,
        "cohens_d": q_cohens_d,
        "cochran_q": q_cochran_q,
        "friedman": q_friedman,
        "anderson_darling": q_anderson_darling,
        "wasserstein": q_wasserstein,
        "kuiper": q_kuiper,
        "cramer_von_mises": q_cramer_von_mises,
        "energy_distance": q_energy_distance,
        "pettitt": q_pettitt,
        "weighted_kappa": q_weighted_kappa,
        "hosmer_lemeshow": q_hosmer_lemeshow,
        "concordance_index": q_concordance_index,
        "cochran_armitage": q_cochran_armitage,
        "mantel_haenszel": q_mantel_haenszel,
        "tfidf": q_tfidf,
        "bootstrap_ci": q_bootstrap_ci,
        "permutation_test": q_permutation_test,
        "cuped": q_cuped,
        "ratio_ttest": q_ratio_ttest,
        "fdr_by": q_fdr_by,
        "bland_altman": q_bland_altman,
        "aalen_johansen": q_aalen_johansen,
        "kruskal_wallis": q_kruskal_wallis,
        "semantic_dedup": q_semantic_dedup,
        "welch_ttest": q_welch_ttest,
        "acf": q_acf,
        "bfs_distance": q_bfs_distance,
        "quantile_clip": q_quantile_clip,
        "pagerank": q_pagerank,
        "scd2_lookup": q_scd2_lookup,
        "skew_join": q_skew_join,
        "discretize": q_discretize,
        "kmv_distinct": q_kmv_distinct,
        "cusum": q_cusum,
        "kmv_jaccard": q_kmv_jaccard,
        "streaming_cusum": q_streaming_cusum,
        "target_encode": q_target_encode,
        "triangle_count": q_triangle_count,
        "quantiles_linear": q_quantiles_linear,
        "weighted_quantiles": q_weighted_quantiles,
        "ecdf": q_ecdf,
        "bloom_semi_join": q_bloom_semi_join,
        "keyword_tag": q_keyword_tag,
        "tv_drift": q_tv_drift,
        "robust_scale": q_robust_scale,
        "fold_accents": q_fold_accents,
        "top_paths": q_top_paths,
        "balance_classes": q_balance_classes,
        "oversample": q_oversample,
        "trending": q_trending,
        "calibration": q_calibration,
        "script_profile": q_script_profile,
        "rolling_active": q_rolling_active,
        "vocab_overlap": q_vocab_overlap,
        "parquet_stats": q_parquet_stats,
        "seasonal_mad": q_seasonal_mad,
        "conversion_latency": q_conversion_latency,
        # ---- r7 additions (time_rollup hierarchical continuous
        # aggregate; info-theory family; line dedup + Gopher rules)
        # and r5-window carryover ----
        "time_rollup": q_time_rollup,
        "entropy": q_entropy,
        "js_divergence": q_js_divergence,
        "kl_divergence": q_kl_divergence,
        "psi_drift": q_psi_drift,
        "interval_join": q_interval_join,
        "mutual_information": q_mutual_information,
        "roundtrip_xml": q_roundtrip_xml,
        "streaming_rollup": q_streaming_rollup,
        "line_dedup": q_line_dedup,
        "gopher_rules": q_gopher_rules,
        "prefix_jaccard": q_prefix_jaccard,
        "grouping_sets": q_grouping_sets,
        "scd2": q_scd2,
        "cms_topk": q_cms,
        "cms_prune": q_cms_prune,
        "bm25": q_bm25,
        "expectations": q_expectations,
        "incremental_aggregate": q_incremental_aggregate,
        "streaming_scd2": q_streaming_scd2,
        "unpivot": q_unpivot,
        "funnel": q_funnel,
        "cohort": q_cohort,
        "transitions": q_transitions,
        "correlation": q_correlation,
        "edit_join": q_edit_join,
        "market_basket": q_market_basket,
        "cms_join_estimate": q_cms_join_estimate,
        "table_checksum": q_table_checksum,
        "linear_fit": q_linear_fit,
        "zscore": q_zscore,
        "resample_linear": q_resample_linear,
        "resample_ffill": q_resample_ffill,
        "profile": q_profile,
        "weighted_sample": q_weighted_sample,
        "pmi": q_pmi,
        "drift": q_drift,
        "ks_drift": q_ks_drift,
        "intervals": q_intervals,
        "quantiles": q_quantiles,
        "rank_sum": q_rank_sum,
        "streaming_gaps": q_streaming_gaps,
        "tpch_q1": _tpch.QUERIES["tpch_q1"],
        "tpch_q2": _tpch.QUERIES["tpch_q2"],
        "tpch_q11": _tpch.QUERIES["tpch_q11"],
        "tpch_q12": _tpch.QUERIES["tpch_q12"],
        "tpch_q3": _tpch.QUERIES["tpch_q3"],
        "tpch_q4": _tpch.QUERIES["tpch_q4"],
        "tpch_q6": _tpch.QUERIES["tpch_q6"],
        "tpch_q7": _tpch.QUERIES["tpch_q7"],
        "tpch_q8": _tpch.QUERIES["tpch_q8"],
        "tpch_q9": _tpch.QUERIES["tpch_q9"],
        "tpch_q10": _tpch.QUERIES["tpch_q10"],
        "tpch_q13": _tpch.QUERIES["tpch_q13"],
        "tpch_q14": _tpch.QUERIES["tpch_q14"],
        "tpch_q15": _tpch.QUERIES["tpch_q15"],
        "tpch_q16": _tpch.QUERIES["tpch_q16"],
        "tpch_q19": _tpch.QUERIES["tpch_q19"],
        "tpch_q20": _tpch.QUERIES["tpch_q20"],
        "tpch_q22": _tpch.QUERIES["tpch_q22"],
        # ---- driver-recorded green in CORRECTNESS_r05 ----
        "resample_origin": q_resample_origin,
        "mad_outliers": q_mad_outliers,
        # ---- driver-recorded green in CORRECTNESS_r04 ----
        "join_anti": q_join_anti,
        "join_right": q_join_right,
        "join_full": q_join_full,
        "window_sliding": q_window_sliding,
        "window_session": q_window_session,
        "sessionize": q_sessionize,
        "streaming_dedup": q_streaming_dedup,
        "json_extract": q_json_extract,
        "asof_nearest": q_asof_nearest,
        "cube": q_cube,
        "setop_except": q_setop_except,
        "setop_intersect": q_setop_intersect,
        "clean_text": q_clean_text,
        "histogram_sketch": q_histogram_sketch,
        "cap_per_group": q_cap_per_group,
        "url_features": q_url_features,
        "fingerprint": q_fingerprint,
        "hash_sample": q_hash_sample,
        "roundtrip_csv": q_roundtrip_csv,
        "roundtrip_json": q_roundtrip_json,
        "roundtrip_orc": q_roundtrip_orc,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "model_score": q_model_score,
        "image_resize": q_image_resize,
        "embed_media": q_embed_media,
        "frame_sample": q_frame_sample,
        "roundtrip_avro": q_roundtrip_avro,
        "composite": q_composite,
        "lm_score": q_lm_score,
        "substring_dedup": q_substring_dedup,
        "embedding_quantize": q_embedding_quantize,
        "table_diff": q_table_diff,
        "incremental_dedup": q_incremental_dedup,
        "incremental_minhash": q_incremental_minhash,
        "zorder": q_zorder,
        "streaming_join": q_streaming_join,
        "bpe_tokenize": q_bpe_tokenize,
        "mix": q_mix,
        "sql_step": q_sql_step,
        "quantile_filter": q_quantile_filter,
        "flatten": q_flatten,
        "cdc_roundtrip": q_cdc_roundtrip,
        "schema_align": q_schema_align,
        "ann_ivf_trained": q_ann_ivf_trained,
        "minhash_lsh": q_minhash_lsh,
        "tpch_q5": _tpch.QUERIES["tpch_q5"],
        "tpch_q17": _tpch.QUERIES["tpch_q17"],
        "tpch_q18": _tpch.QUERIES["tpch_q18"],
        "tpch_q21": _tpch.QUERIES["tpch_q21"],
        # ---- driver-recorded green in CORRECTNESS_r03 ----
        "filter": q_filter,
        "aggregation": q_aggregation,
        "join_inner": q_join_inner,
        "window_tumbling": q_window_tumbling,
        "text_stats": q_text_stats,
        "cosine_topk": q_cosine_topk,
        "image_decode": q_image_decode,
        "dedup_exact_content": q_dedup_exact_content,
        "streaming_window": q_streaming_window,
        "ranking": q_ranking,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "rollup": q_rollup,
        "setop_union": q_setop_union,
        "null_split_invalid": q_null_split_invalid,
        "roundtrip_parquet": q_roundtrip_parquet,
        "pipeline_e2e": q_pipeline_e2e,
        "quarantine_roundtrip": q_quarantine_roundtrip,
        "simhash": q_simhash,
        "pii_scan": q_pii_scan,
        "hash_split": q_hash_split,
        "map": q_map,
        "join_left": q_join_left,
        "join_semi": q_join_semi,
        "explode": q_explode,
        "agg_extended": q_agg_extended,
        "analytics": q_analytics,
        "pivot": q_pivot,
        "sort_limit": q_sort_limit,
        "distinct": q_distinct,
        "salted_aggregation": q_salted_aggregation,
        "sketch_distinct": q_sketch_distinct,
        "rolling_time": q_rolling_time,
        "null_metrics": q_null_metrics,
        "duplicate_stats": q_duplicate_stats,
        "dedup_exact_keys": q_dedup_exact_keys,
        "ngram_jaccard": q_ngram_jaccard,
        "contamination": q_contamination,
        "dedup_clusters": q_dedup_clusters,
        "language_id": q_language_id,
        "token_counts": q_token_counts,
        "repetition_stats": q_repetition_stats,
        "top_bigram": q_top_bigram,
        "chunk_docs": q_chunk_docs,
        "pack_sequences": q_pack_sequences,
        "token_frequency": q_token_frequency,
        "embedding_cosine_dups": q_embedding_cosine_dups,
        "multimodal_meta": q_multimodal_meta,
        "audio_decode": q_audio_decode,
    }


def oracle_sql() -> dict[str, str]:
    from etl_spark_gradle_spark import tpch as _tpch

    return {
        **_tpch.ORACLES,
        "grouping_sets": _GROUPING_SETS_ORACLE,
        "scd2": _SCD2_ORACLE,
        "cms_topk": _CMS_ORACLE,
        "cms_prune": _CMS_PRUNE_ORACLE,
        "bm25": _BM25_ORACLE,
        "expectations": _EXPECTATIONS_ORACLE,
        "incremental_aggregate": _INCR_AGG_ORACLE,
        "streaming_scd2": _STREAMING_SCD2_ORACLE,
        "unpivot": _UNPIVOT_ORACLE,
        "funnel": _FUNNEL_ORACLE,
        "cohort": _COHORT_ORACLE,
        "transitions": _TRANSITIONS_ORACLE,
        "correlation": _corr_oracle(),
        "edit_join": _EDIT_JOIN_ORACLE,
        "market_basket": _MARKET_BASKET_ORACLE,
        "cms_join_estimate": _CMS_JOIN_EST_ORACLE,
        "table_checksum": _TABLE_CHECKSUM_ORACLE,
        "linear_fit": _LINFIT_ORACLE,
        "zscore": _ZSCORE_ORACLE,
        "resample_linear": _RESAMPLE_LINEAR_ORACLE,
        "time_rollup": _TIME_ROLLUP_ORACLE,
        "streaming_rollup": _STREAMING_ROLLUP_ORACLE,
        "line_dedup": _LINE_DEDUP_ORACLE,
        "gopher_rules": _GOPHER_RULES_ORACLE,
        # same ground truth as ngram_jaccard by design: the operator is
        # a lossless re-computation of the identical pair relation
        "prefix_jaccard": _NGRAM_JACCARD_ORACLE,
        "entropy": _ENTROPY_ORACLE,
        "js_divergence": _JS_DIVERGENCE_ORACLE,
        "kl_divergence": _KL_DIVERGENCE_ORACLE,
        "psi_drift": _PSI_DRIFT_ORACLE,
        "interval_join": _INTERVAL_JOIN_ORACLE,
        "mutual_information": _MUTUAL_INFORMATION_ORACLE,
        "resample_origin": _RESAMPLE_ORIGIN_ORACLE,
        "mad_outliers": _MAD_OUTLIERS_ORACLE,
        "association_rules": _ASSOCIATION_RULES_ORACLE,
        "feature_hash": _FEATURE_HASH_ORACLE,
        "rfm": _RFM_ORACLE,
        "pareto": _PARETO_ORACLE,
        "batch_sessionize": _BATCH_SESSIONIZE_ORACLE,
        "debounce": _DEBOUNCE_ORACLE,
        "ohlc": _OHLC_ORACLE,
        "twap": _TWAP_ORACLE,
        "lag_features": _LAG_FEATURES_ORACLE,
        "negative_sample": _NEGATIVE_SAMPLE_ORACLE,
        "rolling_zscore": _ROLLING_ZSCORE_ORACLE,
        "streaming_debounce": _STREAMING_DEBOUNCE_ORACLE,
        "streaming_kmv": _STREAMING_KMV_ORACLE,
        "streaming_topk": _STREAMING_TOPK_ORACLE,
        "streaming_histogram": _STREAMING_HISTOGRAM_ORACLE,
        "k_anonymity": _K_ANONYMITY_ORACLE,
        "l_diversity": _L_DIVERSITY_ORACLE,
        "prop_ztest": _PROP_ZTEST_ORACLE,
        "consolidate": _CONSOLIDATE_ORACLE,
        "churn_labels": _CHURN_LABELS_ORACLE,
        "skew_report": _SKEW_REPORT_ORACLE,
        "event_trigrams": _EVENT_TRIGRAMS_ORACLE,
        "activity_heatmap": _ACTIVITY_HEATMAP_ORACLE,
        "naive_forecast_error": _NAIVE_FORECAST_ERROR_ORACLE,
        "cohort_ltv": _COHORT_LTV_ORACLE,
        "reorder_intervals": _REORDER_INTERVALS_ORACLE,
        "embedding_drift": _EMBEDDING_DRIFT_ORACLE,
        "rule_significance": _RULE_SIGNIFICANCE_ORACLE,
        "fk_coverage": _FK_COVERAGE_ORACLE,
        "co_item_recs": _CO_ITEM_RECS_ORACLE,
        "ship_delay": _SHIP_DELAY_ORACLE,
        "discount_elasticity": _DISCOUNT_ELASTICITY_ORACLE,
        "weekly_trend": _WEEKLY_TREND_ORACLE,
        "basket_size_dist": _BASKET_SIZE_DIST_ORACLE,
        "spend_gini": _SPEND_GINI_ORACLE,
        "trimmed_mean": _TRIMMED_MEAN_ORACLE,
        "rolling_median": _ROLLING_MEDIAN_ORACLE,
        "quantile_normalize": _QUANTILE_NORMALIZE_ORACLE,
        "impute": _IMPUTE_ORACLE,
        "topk_recall": _TOPK_RECALL_ORACLE,
        "weighted_reservoir": _WEIGHTED_RESERVOIR_ORACLE,
        "multiple_regression": _MULTIPLE_REGRESSION_ORACLE,
        "benford": _benford_oracle(),
        "volume_anomaly": _VOLUME_ANOMALY_ORACLE,
        "feature_pipeline": _FEATURE_PIPELINE_ORACLE,
        "kmeans": _kmeans_oracle(),
        "kmeans_spread": _kmeans_oracle(
            k=4, iterations=2, seeding="spread", oversample=8
        ),
        "auc": _AUC_ORACLE,
        "classification_report": _CLASSIFICATION_REPORT_ORACLE,
        "lift_table": _LIFT_TABLE_ORACLE,
        "cohens_kappa": _COHENS_KAPPA_ORACLE,
        "isotonic": _ISOTONIC_ORACLE,
        "regression_metrics": _REGRESSION_METRICS_ORACLE,
        "brier_ece": _BRIER_ECE_ORACLE,
        "t_closeness": _T_CLOSENESS_ORACLE,
        "spearman": _SPEARMAN_ORACLE,
        "ndcg": _NDCG_ORACLE,
        "mrr": _MRR_ORACLE,
        "decontaminate": _DECONTAMINATE_ORACLE,
        "pr_curve": _PR_CURVE_ORACLE,
        "average_precision": _AVERAGE_PRECISION_ORACLE,
        "roc_curve": _ROC_CURVE_ORACLE,
        "mcc": _MCC_ORACLE,
        "fleiss_kappa": _FLEISS_KAPPA_ORACLE,
        "fdr_bh": _FDR_BH_ORACLE,
        "containment": _CONTAINMENT_ORACLE,
        # ---- r11 additions ----
        "chi_square": _CHI_SQUARE_ORACLE,
        "mcnemar": _MCNEMAR_ORACLE,
        "brown_forsythe": _BROWN_FORSYTHE_ORACLE,
        "ewma": _EWMA_ORACLE,
        "kaplan_meier": _KAPLAN_MEIER_ORACLE,
        "nelson_aalen": _NELSON_AALEN_ORACLE,
        "zipf": _ZIPF_ORACLE,
        "readability": _READABILITY_ORACLE,
        "dsir": _DSIR_ORACLE,
        "streaming_ewma": _STREAMING_EWMA_ORACLE,
        "theil_u": _THEIL_U_ORACLE,
        "kendall_tau": _KENDALL_TAU_ORACLE,
        "logrank": _LOGRANK_ORACLE,
        "mann_kendall": _MANN_KENDALL_ORACLE,
        "theil_sen": _THEIL_SEN_ORACLE,
        "rmst": _RMST_ORACLE,
        "anova": _ANOVA_ORACLE,
        "tukey_hsd": _TUKEY_HSD_ORACLE,
        "cronbach_alpha": _CRONBACH_ALPHA_ORACLE,
        "cohens_d": _COHENS_D_ORACLE,
        "cochran_q": _COCHRAN_Q_ORACLE,
        "friedman": _FRIEDMAN_ORACLE,
        "anderson_darling": _ANDERSON_DARLING_ORACLE,
        "wasserstein": _WASSERSTEIN_ORACLE,
        "kuiper": _KUIPER_ORACLE,
        "cramer_von_mises": _CRAMER_VON_MISES_ORACLE,
        "energy_distance": _ENERGY_DISTANCE_ORACLE,
        "pettitt": _PETTITT_ORACLE,
        "weighted_kappa": _WEIGHTED_KAPPA_ORACLE,
        "hosmer_lemeshow": _HOSMER_LEMESHOW_ORACLE,
        "concordance_index": _CONCORDANCE_INDEX_ORACLE,
        "cochran_armitage": _COCHRAN_ARMITAGE_ORACLE,
        "mantel_haenszel": _MANTEL_HAENSZEL_ORACLE,
        "tfidf": _TFIDF_ORACLE,
        "bootstrap_ci": _BOOTSTRAP_CI_ORACLE,
        "permutation_test": _PERMUTATION_TEST_ORACLE,
        "cuped": _CUPED_ORACLE,
        "ratio_ttest": _RATIO_TTEST_ORACLE,
        "fdr_by": _FDR_BY_ORACLE,
        "bland_altman": _BLAND_ALTMAN_ORACLE,
        "aalen_johansen": _AALEN_JOHANSEN_ORACLE,
        "kruskal_wallis": _KRUSKAL_WALLIS_ORACLE,
        "semantic_dedup": _kmeans_oracle(representatives=True),
        "welch_ttest": _WELCH_TTEST_ORACLE,
        "acf": _acf_oracle(),
        "bfs_distance": _bfs_oracle(),
        "quantile_clip": _QUANTILE_CLIP_ORACLE,
        "pagerank": _pagerank_oracle(),
        "scd2_lookup": _SCD2_LOOKUP_ORACLE,
        "skew_join": _SKEW_JOIN_ORACLE,
        "discretize": _DISCRETIZE_ORACLE,
        "kmv_distinct": _KMV_DISTINCT_ORACLE,
        "cusum": _CUSUM_ORACLE,
        "kmv_jaccard": _KMV_JACCARD_ORACLE,
        "streaming_cusum": _STREAMING_CUSUM_ORACLE,
        "target_encode": _TARGET_ENCODE_ORACLE,
        "triangle_count": _TRIANGLE_COUNT_ORACLE,
        "quantiles_linear": _QUANTILES_LINEAR_ORACLE,
        "weighted_quantiles": _WEIGHTED_QUANTILES_ORACLE,
        "ecdf": _ECDF_ORACLE,
        "bloom_semi_join": _BLOOM_SEMI_JOIN_ORACLE,
        "keyword_tag": _KEYWORD_TAG_ORACLE,
        "tv_drift": _TV_DRIFT_ORACLE,
        "robust_scale": _ROBUST_SCALE_ORACLE,
        "fold_accents": _fold_accents_oracle(),
        "top_paths": _TOP_PATHS_ORACLE,
        "balance_classes": _BALANCE_CLASSES_ORACLE,
        "oversample": _OVERSAMPLE_ORACLE,
        "trending": _TRENDING_ORACLE,
        "calibration": _CALIBRATION_ORACLE,
        "script_profile": _SCRIPT_PROFILE_ORACLE,
        "rolling_active": _ROLLING_ACTIVE_ORACLE,
        "vocab_overlap": _VOCAB_OVERLAP_ORACLE,
        "parquet_stats": _PARQUET_STATS_ORACLE,
        "seasonal_mad": _SEASONAL_MAD_ORACLE,
        "conversion_latency": _CONVERSION_LATENCY_ORACLE,
        "resample_ffill": _RESAMPLE_FFILL_ORACLE,
        "profile": _PROFILE_ORACLE,
        "weighted_sample": _WEIGHTED_SAMPLE_ORACLE,
        "pmi": _PMI_ORACLE,
        "drift": _DRIFT_ORACLE,
        "ks_drift": _KS_DRIFT_ORACLE,
        "intervals": _INTERVALS_ORACLE,
        "quantiles": _QUANTILES_ORACLE,
        "rank_sum": _RANK_SUM_ORACLE,
        "streaming_gaps": _STREAMING_GAPS_ORACLE,
        "filter": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag "
            "FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'"
        ),
        "map": (
            "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year, "
            "CAST(month(o_orderdate) AS INT) AS o_month, "
            "upper(o_orderpriority) AS priority_up, "
            "CASE WHEN o_totalprice > 100000 THEN 'high' ELSE 'low' END AS price_band "
            "FROM orders"
        ),
        "aggregation": _AGG_ORACLE,
        "join_inner": (
            "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment "
            "FROM orders JOIN customer ON o_custkey = c_custkey"
        ),
        "join_left": (
            "SELECT c_custkey, o_orderkey, o_totalprice FROM customer "
            "LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o "
            "ON c_custkey = o.o_custkey"
        ),
        "join_right": (
            "SELECT s_suppkey, s_name, n_name "
            "FROM (SELECT * FROM supplier WHERE s_acctbal > 0) s "
            "RIGHT JOIN nation ON s.s_nationkey = n_nationkey"
        ),
        "join_full": (
            "SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice "
            "FROM (SELECT * FROM customer WHERE c_acctbal < 0) c "
            "FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 350000) o "
            "ON c.c_custkey = o.o_custkey"
        ),
        "window_tumbling": _WINDOW_TUMBLING_ORACLE,
        "window_sliding": _WINDOW_SLIDING_ORACLE,
        "window_session": _WINDOW_SESSION_ORACLE,
        "streaming_window": _STREAMING_WINDOW_ORACLE,
        "streaming_dedup": _STREAMING_DEDUP_ORACLE,
        "ranking": (
            "SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM ("
            "SELECT o_orderpriority, o_orderkey, o_totalprice, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
            "ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn FROM orders) "
            "WHERE rn <= 3"
        ),
        "sessionize": _SESSIONIZE_ORACLE,
        "join_semi": (
            "SELECT c_custkey, c_mktsegment, c_acctbal FROM customer "
            "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_totalprice > 300000)"
        ),
        "join_anti": (
            "SELECT c_custkey, c_name, c_nationkey FROM customer "
            "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_totalprice > 350000)"
        ),
        "asof_join": (
            "SELECT l.event_id, l.user_id, "
            "strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ev_ts, "
            "r.purchase_value, r.purchase_ts "
            "FROM (SELECT event_id, user_id, ts FROM events "
            "      WHERE event_type = 'click') l "
            "ASOF LEFT JOIN ("
            "  SELECT user_id, ts, max(value) AS purchase_value, "
            "         strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts "
            "  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts"
            ") r ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "asof_nearest": (
            "SELECT l.event_id, l.user_id, "
            "strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ev_ts, "
            "r.purchase_value, r.purchase_ts "
            "FROM (SELECT event_id, user_id, ts FROM events "
            "      WHERE event_type = 'click') l "
            "LEFT JOIN LATERAL ("
            "  SELECT purchase_value, purchase_ts FROM ("
            "    SELECT user_id, ts, max(value) AS purchase_value, "
            "           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts "
            "    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts"
            "  ) p WHERE p.user_id = l.user_id "
            "  ORDER BY abs(epoch_us(p.ts) - epoch_us(l.ts)), p.ts LIMIT 1"
            ") r ON TRUE"
        ),
        "range_join": (
            "SELECT iv_id, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
            "FROM events JOIN ("
            "  SELECT n_nationkey AS iv_id, n_nationkey*18.0 AS lo, "
            "         n_nationkey*18.0 + 25.0 AS hi FROM nation"
            ") ON value BETWEEN lo AND hi "
            "GROUP BY iv_id"
        ),
        "rollup": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
            "CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
        ),
        "cube": (
            "SELECT o_orderstatus, o_orderpriority, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
            "CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"
        ),
        "explode": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(tokens) AS token FROM ("
            "SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            "x -> x != '') AS tokens FROM documents WHERE doc_id < 50)"
        ),
        "agg_extended": (
            "SELECT c_mktsegment, "
            "CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nations, "
            "CAST(MEDIAN(c_nationkey) AS DOUBLE) AS med_nation, "
            "CAST(COUNT(c_custkey) AS BIGINT) AS n "
            "FROM customer GROUP BY c_mktsegment"
        ),
        "analytics": (
            "WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, "
            "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders) "
            "SELECT o_custkey, o_orderkey, cents, "
            "lag(cents, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_cents, "
            "lead(cents, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_cents, "
            "CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_total, "
            "CAST(COUNT(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_orders, "
            "cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pct "
            "FROM o"
        ),
        "pivot": (
            "SELECT l_returnflag, "
            "CAST(SUM(CASE WHEN l_linestatus = 'F' "
            "THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS F, "
            "CAST(SUM(CASE WHEN l_linestatus = 'O' "
            "THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS O "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "setop_union": (
            "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 2000 "
            "UNION "
            "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > -2000"
        ),
        "setop_except": (
            "SELECT c_custkey, c_nationkey FROM customer "
            "EXCEPT "
            "SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal < 0"
        ),
        "setop_intersect": _SETOP_INTERSECT_ORACLE,
        "sort_limit": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"
        ),
        "distinct": "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
        "salted_aggregation": _SALTED_AGG_ORACLE,
        "sketch_distinct": _SKETCH_ORACLE,
        "histogram_sketch": _HISTOGRAM_SKETCH_ORACLE,
        "rolling_time": _ROLLING_TIME_ORACLE,
        "json_extract": (
            "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_value "
            "FROM events"
        ),
        "null_split_invalid": (
            "SELECT event_id, event_type FROM events "
            "WHERE nullif(event_type, 'click') IS NULL"
        ),
        "null_metrics": (
            "SELECT CAST(SUM(CASE WHEN nullif(event_type, 'click') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_maybe_type, "
            "CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS nulls_maybe_value, "
            "CAST(COUNT(*) AS BIGINT) AS total_rows FROM events"
        ),
        "duplicate_stats": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS total, "
            "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_keys, "
            "CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT) AS duplicates "
            "FROM lineitem"
        ),
        "quarantine_roundtrip": (
            "SELECT event_id, event_type, 'oracle-pipeline' AS pipeline_id "
            "FROM events WHERE nullif(event_type, 'click') IS NULL"
        ),
        "roundtrip_parquet": _NATION_ORACLE,
        "roundtrip_csv": _NATION_ORACLE,
        "roundtrip_xml": _NATION_ORACLE,
        "roundtrip_json": _NATION_ORACLE,
        "roundtrip_orc": _NATION_ORACLE,
        "pipeline_e2e": _E2E_ORACLE,
        "dedup_exact_content": _DEDUP_CONTENT_ORACLE,
        "dedup_exact_keys": _DEDUP_KEYS_ORACLE,
        "ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "contamination": _CONTAMINATION_ORACLE,
        "dedup_clusters": _DEDUP_CLUSTERS_ORACLE,
        "minhash_lsh": _MINHASH_LSH_ORACLE,
        "simhash": _SIMHASH_ORACLE,
        "text_stats": _TEXT_STATS_ORACLE,
        "language_id": _lang_oracle(),
        "token_counts": _TOKEN_COUNTS_ORACLE,
        "clean_text": _CLEAN_TEXT_ORACLE,
        "fingerprint": _FINGERPRINT_ORACLE,
        "cosine_topk": _COSINE_TOPK_ORACLE,
        "embedding_cosine_dups": _EMBEDDING_DUPS_ORACLE,
        "multimodal_meta": _MULTIMODAL_META_ORACLE,
        "image_decode": _IMAGE_DECODE_ORACLE,
        "audio_decode": _AUDIO_DECODE_ORACLE,
        "repetition_stats": _REPETITION_ORACLE,
        "top_bigram": _TOP_BIGRAM_ORACLE,
        "pii_scan": _pii_oracle(),
        "hash_split": _hash_split_oracle(),
        "chunk_docs": _CHUNK_ORACLE,
        "pack_sequences": _PACK_ORACLE,
        "token_frequency": _TOKEN_FREQUENCY_ORACLE,
        "hash_sample": _hash_sample_oracle(),
        "cap_per_group": _CAP_PER_GROUP_ORACLE,
        "url_features": _URL_FEATURES_ORACLE,
        "model_score": _MODEL_SCORE_ORACLE,
        "ann_lsh": _ANN_SUMMARY_ORACLE,
        "ann_ivf": _ANN_SUMMARY_ORACLE,
        "image_resize": _IMAGE_RESIZE_ORACLE,
        "embed_media": _EMBED_MEDIA_ORACLE,
        "frame_sample": _FRAME_SAMPLE_ORACLE,
        "roundtrip_avro": _ROUNDTRIP_AVRO_ORACLE,
        "composite": _composite_oracle(),
        "lm_score": _LM_SCORE_ORACLE,
        "substring_dedup": _SUBSTRING_DEDUP_ORACLE,
        "table_diff": _TABLE_DIFF_ORACLE,
        "incremental_dedup": _INCREMENTAL_DEDUP_ORACLE,
        "incremental_minhash": _INCREMENTAL_MINHASH_ORACLE,
        "zorder": _ZORDER_ORACLE,
        "streaming_join": _STREAMING_JOIN_ORACLE,
        "bpe_tokenize": _BPE_TOKENIZE_ORACLE,
        "mix": _MIX_ORACLE,
        "sql_step": _SQL_STEP_STATEMENT.format(table="lineitem"),
        "quantile_filter": _QUANTILE_FILTER_ORACLE,
        "flatten": _FLATTEN_ORACLE,
        "cdc_roundtrip": _CDC_ROUNDTRIP_ORACLE,
        "schema_align": _SCHEMA_ALIGN_ORACLE,
        "ann_ivf_trained": _ANN_SUMMARY_ORACLE,
        "embedding_quantize": _EMBEDDING_QUANTIZE_ORACLE,
    }
