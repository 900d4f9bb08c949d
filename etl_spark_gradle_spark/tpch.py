"""Adapted TPC-H analytics suite over the engine's testdata schema.

All 22 TPC-H queries, adapted to the columns the testdata actually
carries (no ``partsupp`` table, no
``l_shipmode``/``l_commitdate``/``l_receiptdate``/``o_shippriority``;
nations are ``NATION_0..24``). The 19 core queries adapt directly;
q2/q11 derive the supplier-part relation from lineitem (supply-cost
proxy = min observed line price per pair) and q12 buckets by return
flag instead of ship mode — same plan shapes as the originals. The suite is the engine's
complex-analytics proof: multi-way star joins, correlated-subquery
rewrites (EXISTS → left-semi, scalar subquery → broadcast join or
window), group-having, conditional aggregation, and top-k — every query
paired with a DuckDB oracle (``ORACLES``) for the value-hash gate.

Determinism contract (same as ``__spark_entry__``): every double SUM is
an exact DECIMAL accumulation cast back to double on BOTH engines —
``l_extendedprice * (1 - l_discount)`` is computed as
``DECIMAL(18,2) * DECIMAL`` with an explicit intermediate cast, so the
summed value is the same exact rational in Spark and DuckDB regardless
of partial-aggregation order. Ratios divide two such exact doubles with
identical operand order. Dates are emitted as formatted UTC strings.

Scale notes (100 TB posture — each docstring carries its own):
- ``region``/``nation``/``supplier``/``part`` are dimension tables
  (KB–GB at any SF) and are explicitly ``broadcast()`` — the fact
  tables (``lineitem``, ``orders``) NEVER shuffle for a dim join.
- fact⋈fact joins (orders⋈lineitem, customer⋈orders) shuffle on the
  join key once; aggregations ride the same key where possible.
- date/flag filters sit directly on the scan (PushedFilters), and the
  SELECT list is pruned before every join (ReadSchema).

Reference parity: the reference engine ships only simple
filter/map/agg/join/window transformers (SURVEY.md §2.3,
``transformer/*.scala``) — this suite is the beyond-reference analytics
surface the brief's "same query capabilities" goal implies, expressed
Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["QUERIES", "ORACLES", "tpch_tables"]


def _pin(spark: SparkSession) -> None:
    # UTC so date_format matches DuckDB's naive timestamps; ANSI off for
    # lenient casts (driver session may default ANSI on)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def tpch_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    _pin(spark)
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def _dec(col: str) -> Column:
    """Exact DECIMAL(18,2) view of a 2-decimal-digit double column."""
    return F.col(col).cast("decimal(18,2)")


# l_extendedprice * (1 - l_discount), exact. The explicit intermediate
# cast keeps Spark's and DuckDB's decimal type-widening rules out of the
# picture: the true value has scale <= 4 and magnitude < 10^14, so the
# cast never rounds and both engines sum the same exact rationals.
_DISC_PRICE = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
)
# disc_price * (1 + l_tax), exact at scale 6
_CHARGE = (
    f"CAST({_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))"
)


def _ts(s: str) -> Column:
    return F.lit(s).cast("timestamp")


def _fmt(col) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# ---------------------------------------------------------------------------
# Q1 — pricing summary report
# ---------------------------------------------------------------------------


def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: one scan → one hash aggregation on a
    2-value × 3-value key. Scale: the shipdate filter is pushed to the
    scan; partial aggregation collapses each task to ≤ 6 rows before
    the single tiny exchange — the canonical map-side-combine shape."""
    (li,) = tpch_tables(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("string").cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("string").cast("double").alias("sum_base_price"),
            F.sum(F.expr(_DISC_PRICE)).cast("string").cast("double").alias("sum_disc_price"),
            F.sum(F.expr(_CHARGE)).cast("string").cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("string").cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("string").cast("double") / F.count("*")).alias(
                "avg_price"
            ),
            (F.sum(_dec("l_discount")).cast("string").cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3 — shipping priority (top-10 unshipped orders by revenue)
# ---------------------------------------------------------------------------


def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: segment-filtered customer ⋈ orders ⋈ lineitem, revenue
    top-10. Scale: customer (dim-sized after the segment filter) is
    broadcast into orders; orders⋈lineitem shuffles once on the order
    key and the groupBy rides the SAME key (no second exchange); the
    LIMIT plans as TakeOrderedAndProject — per-partition top-10, never
    a global sort. o_shippriority doesn't exist here; o_orderpriority
    is carried in its place."""
    cu, orders, li = tpch_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = _ts("1998-07-01")
    c = cu.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = orders.where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = li.where(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", F.expr(_DISC_PRICE).alias("dp")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("dp").cast("string").cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            _fmt("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS → left-semi)
# ---------------------------------------------------------------------------


def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted: count orders per priority having at least one
    "late" line (no commit/receipt dates here — late means shipped more
    than 90 days after the order date). The EXISTS subquery is a
    LEFT SEMI join, so lineitem rows never duplicate orders and only
    the (l_orderkey, l_shipdate) pair crosses the wire. Scale: one
    shuffle on the order key, then a tiny 5-row aggregation."""
    orders, li = tpch_tables(spark, sf_dir, "orders", "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = li.select("l_orderkey", "l_shipdate")
    late = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(l, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q5 — local supplier volume (6-way star join)
# ---------------------------------------------------------------------------


def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation, region-filtered. The engine's widest star join: lineitem ⋈
    orders shuffle on the order key is the ONLY fact shuffle — supplier,
    nation and region are broadcast, and the customer⋈order join feeds
    the same key chain. The c_nationkey = s_nationkey condition rides
    the supplier broadcast join."""
    cu, orders, li, su, na, re = tpch_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    asia = re.where(F.col("r_name") == "ASIA").select("r_regionkey")
    n = (
        na.join(F.broadcast(asia), na.n_regionkey == asia.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    s = su.join(
        F.broadcast(n), su.s_nationkey == n.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = orders.where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    c = cu.select("c_custkey", "c_nationkey")
    oc = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    l = li.select("l_orderkey", "l_suppkey", F.expr(_DISC_PRICE).alias("dp"))
    return (
        l.join(oc, l.l_orderkey == oc.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (oc.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum("dp").cast("string").cast("double").alias("revenue"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure scan-filter-sum)
# ---------------------------------------------------------------------------


def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: scan → 3 pushed predicates → single exact sum. Scale:
    zero joins, zero wide exchanges — the fastest possible shape; the
    whole query is one codegen stage plus a 1-row collect."""
    (li,) = tpch_tables(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                    " * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))"
                )
            )
            .cast("string").cast("double")
            .alias("revenue")
        )
    )


_Q6_SQL = """
SELECT CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.
    Scale: both nation lookups are broadcast joins onto the supplier
    and customer dims, which are themselves broadcast onto the facts —
    lineitem⋈orders is the only shuffle; the OR'd nation-pair predicate
    prunes everything else early."""
    cu, orders, li, su, na = tpch_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation"
    )
    n1 = na.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = na.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    s = su.join(F.broadcast(n1), su.s_nationkey == n1.nk1).select(
        "s_suppkey", "supp_nation"
    )
    c = cu.join(F.broadcast(n2), cu.c_nationkey == n2.nk2).select(
        "c_custkey", "cust_nation"
    )
    o = orders.select("o_orderkey", "o_custkey")
    l = li.where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") <= _ts("1997-12-31"))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("int").alias("l_year"),
        F.expr(_DISC_PRICE).alias("dp"),
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(pair)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("dp").cast("string").cast("double").alias("revenue"))
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------


def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adapted (no ps_supplycost): NATION_3 suppliers' share of
    ECONOMY-part revenue sold to AMERICA-region customers, by order
    year. The share is a conditional-sum ratio — both sums exact
    decimals, divided as doubles with fixed operand order. Scale: part,
    supplier+nation, customer+nation+region all broadcast; single
    lineitem⋈orders shuffle."""
    cu, orders, li, su, na, re, pa = tpch_tables(
        spark,
        sf_dir,
        "customer",
        "orders",
        "lineitem",
        "supplier",
        "nation",
        "region",
        "part",
    )
    p = pa.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    amer = re.where(F.col("r_name") == "AMERICA").select("r_regionkey")
    cn = (
        na.join(F.broadcast(amer), na.n_regionkey == amer.r_regionkey)
        .select(F.col("n_nationkey").alias("cnk"))
    )
    c = cu.join(F.broadcast(cn), cu.c_nationkey == cn.cnk).select("c_custkey")
    sn = na.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    s = su.join(F.broadcast(sn), su.s_nationkey == sn.snk).select(
        "s_suppkey", "supp_nation"
    )
    o = orders.where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("o_year"))
    l = li.select("l_orderkey", "l_partkey", "l_suppkey", F.expr(_DISC_PRICE).alias("dp"))
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("dp")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            ))
            .cast("string").cast("double")
            .alias("nat_rev"),
            F.sum("dp").cast("string").cast("double").alias("tot_rev"),
        )
        .select(
            "o_year",
            (F.col("nat_rev") / F.col("tot_rev")).alias("mkt_share"),
        )
    )


_Q8_SQL = """
WITH j AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS dp,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT CAST(o_year AS INT) AS o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN dp ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(dp) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM j
GROUP BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 — product type profit
# ---------------------------------------------------------------------------


def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (profit = discounted revenue; no ps_supplycost
    to subtract): revenue on parts named like '%red%' by supplier
    nation and order year. Scale: part filter broadcast into lineitem,
    supplier+nation broadcast, one orders shuffle."""
    orders, li, su, na, pa = tpch_tables(
        spark, sf_dir, "orders", "lineitem", "supplier", "nation", "part"
    )
    p = pa.where(F.col("p_name").contains("red")).select("p_partkey")
    sn = na.select(F.col("n_nationkey").alias("snk"), "n_name")
    s = su.join(F.broadcast(sn), su.s_nationkey == sn.snk).select("s_suppkey", "n_name")
    o = orders.select("o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    l = li.select("l_orderkey", "l_partkey", "l_suppkey", F.expr(_DISC_PRICE).alias("dp"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name", "o_year")
        .agg(F.sum("dp").cast("string").cast("double").alias("sum_profit"))
    )


_Q9_SQL = """
SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


# ---------------------------------------------------------------------------
# Q10 — returned item reporting (top-20 customers by lost revenue)
# ---------------------------------------------------------------------------


def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns per customer over a quarter,
    top-20. Scale: nation broadcast; orders filtered to one quarter
    then joined to lineitem on the order key (one shuffle), customer
    joined on the aggregated 20-row side; TakeOrderedAndProject top-k
    with the customer key as tiebreaker."""
    cu, orders, li, na = tpch_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    o = orders.where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    ).select("o_orderkey", "o_custkey")
    l = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", F.expr(_DISC_PRICE).alias("dp")
    )
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("dp").cast("string").cast("double").alias("revenue"))
    )
    c = cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "n_name"
    )
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
       c_acctbal, n_name, c_mktsegment
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution
# ---------------------------------------------------------------------------


def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of orders-per-customer (excluding urgent
    orders), LEFT join so zero-order customers count. Scale: one
    shuffle on the customer key for the count, then a tiny second
    aggregation on the count value itself — the double-grouping shape;
    left join keeps customers with no orders as c_count = 0."""
    cu, orders = tpch_tables(spark, sf_dir, "customer", "orders")
    o = orders.where(F.col("o_orderpriority") != "1-URGENT").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        cu.select("c_custkey")
        .join(o, cu.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# Q14 — promotion effect
# ---------------------------------------------------------------------------


def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: % of one month's revenue from PROMO parts. Scale:
    part broadcast into the month-filtered lineitem scan; single 1-row
    conditional-sum aggregate, ratio of two exact doubles."""
    li, pa = tpch_tables(spark, sf_dir, "lineitem", "part")
    p = pa.select("p_partkey", "p_type")
    l = li.where(
        (F.col("l_shipdate") >= _ts("1996-03-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    ).select("l_partkey", F.expr(_DISC_PRICE).alias("dp"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("dp")).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            )
            .cast("string").cast("double")
            .alias("promo_rev"),
            F.sum("dp").cast("string").cast("double").alias("tot_rev"),
        )
        .select(
            ((F.lit(100.0) * F.col("promo_rev")) / F.col("tot_rev")).alias(
                "promo_revenue_pct"
            )
        )
    )


_Q14_SQL = """
SELECT (100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE))
       / CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar-subquery max → window)
# ---------------------------------------------------------------------------


def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    scalar subquery ``revenue = (SELECT max(revenue) ...)`` becomes a
    1-ROW broadcast max attached to the already-aggregated
    per-supplier table — never an unpartitioned window: supplier count
    scales with SF (10K·SF rows), so a single-partition window max is
    a needless funnel where a plain aggregate + broadcast cross join
    keeps every stage parallel. One lineitem shuffle on the supplier
    key."""
    li, su = tpch_tables(spark, sf_dir, "lineitem", "supplier")

    rev = (
        li.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .select("l_suppkey", F.expr(_DISC_PRICE).alias("dp"))
        .groupBy("l_suppkey")
        .agg(F.sum("dp").alias("total_rev_dec"))
        # the max branch and the filter branch share this shuffle
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_rev_dec").alias("max_rev"))
    best = rev.crossJoin(F.broadcast(mx)).where(
        F.col("total_rev_dec") == F.col("max_rev")
    )
    return (
        best.join(F.broadcast(su), best.l_suppkey == su.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("string").cast("double").alias("total_revenue"),
        )
    )


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(CAST(total_rev_dec AS VARCHAR) AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM rev)
"""


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship count
# ---------------------------------------------------------------------------


def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp — supplier/part pairs come from
    lineitem): distinct suppliers per (brand, type, size) for selected
    sizes, excluding one brand. Scale: part filter broadcast; the
    count-distinct plans as two hash aggregations (partial distinct →
    final) — no row explosion."""
    li, pa = tpch_tables(spark, sf_dir, "lineitem", "part")
    p = pa.where(
        (F.col("p_brand") != "Brand#2")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    l = li.select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
GROUP BY p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated avg → broadcast join)
# ---------------------------------------------------------------------------


def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from lines whose quantity is under 20% of the
    part's average. The correlated scalar subquery becomes a per-part
    aggregate joined back (broadcast — part-count rows). The average is
    the exact decimal-sum / count so both engines compute the identical
    threshold. Scale: two scans of lineitem but only ONE shuffles (the
    per-part avg); the outer scan joins against broadcast."""
    li, pa = tpch_tables(spark, sf_dir, "lineitem", "part")
    p = pa.where(F.col("p_brand") == "Brand#15").select("p_partkey")
    avg_qty = (
        li.select("l_partkey", "l_quantity")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy(li.l_partkey)
        .agg(
            (F.sum(_dec("l_quantity")).cast("string").cast("double") / F.count("*")).alias("avg_q")
        )
        .select(F.col("l_partkey").alias("ap_partkey"), "avg_q")
    )
    l = li.select("l_partkey", "l_quantity", _dec("l_extendedprice").alias("price_dec"))
    return (
        l.join(F.broadcast(avg_qty), l.l_partkey == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_q"))
        .agg((F.sum("price_dec").cast("string").cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


_Q17_SQL = """
WITH pq AS (
  SELECT l_partkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_q
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#15'
  GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN pq ON lineitem.l_partkey = pq.l_partkey
WHERE l_quantity < 0.2 * avg_q
"""


# ---------------------------------------------------------------------------
# Q18 — large-volume customers (group-having join-back)
# ---------------------------------------------------------------------------


def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 250, with their
    customers. The HAVING subquery is a per-order aggregate reused
    directly as the probe side (no second lineitem scan). Scale: one
    shuffle on the order key; the surviving orders (top ~1%) join
    customer broadcast-side."""
    cu, orders, li = tpch_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > 250)
    )
    o = orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = cu.select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            _fmt("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            F.col("qty_dec").cast("string").cast("double").alias("total_qty"),
        )
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_totalprice,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
"""


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (OR'd multi-predicate join)
# ---------------------------------------------------------------------------


def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue over three OR'd brand/size/quantity windows.
    The part join is an equi-join on the part key with the OR block as
    a post-join filter — Catalyst keeps the broadcast-hash path instead
    of falling into a nested-loop. Scale: part broadcast, zero fact
    shuffles before the 1-row aggregate."""
    li, pa = tpch_tables(spark, sf_dir, "lineitem", "part")
    p = pa.select("p_partkey", "p_brand", "p_size")
    l = li.select("l_partkey", "l_quantity", F.expr(_DISC_PRICE).alias("dp"))
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(cond)
        .agg(F.sum("dp").cast("string").cast("double").alias("revenue"))
    )


_Q19_SQL = """
SELECT CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested EXISTS → semi-join chain)
# ---------------------------------------------------------------------------


def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp stock levels): suppliers who
    shipped more than 100 units of 'red' parts during 1996, with their
    nation. The nested IN-subquery chain is a per-supplier aggregate →
    filter → broadcast join to the supplier dim. Scale: one lineitem
    shuffle on the supplier key; everything after is dim-sized."""
    li, su, na, pa = tpch_tables(spark, sf_dir, "lineitem", "supplier", "nation", "part")
    p = pa.where(F.col("p_name").contains("red")).select("p_partkey")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > 100)
        .select("l_suppkey", F.col("qty_dec").cast("string").cast("double").alias("red_qty"))
    )
    s = su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey).select(
        "s_suppkey", "s_name", "n_name"
    )
    return shipped.join(F.broadcast(s), shipped.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "n_name", "red_qty"
    )


_Q20_SQL = """
SELECT s_suppkey, s_name, n_name,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS red_qty
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY s_suppkey, s_name, n_name
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting
# ---------------------------------------------------------------------------


def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (late = shipped >60 days after order date, no
    receipt/commit dates): for finalized multi-supplier orders where
    EXACTLY ONE supplier was late, count such orders per late supplier,
    top-20. The EXISTS/NOT-EXISTS pair becomes per-order supplier and
    late-supplier distinct counts computed in ONE aggregation pass,
    joined back to the late lines. Scale: two shuffles on the order
    key (agg + join-back), both on the same key so AQE coalesces; the
    final per-supplier count is dim-sized."""
    orders, li, su = tpch_tables(spark, sf_dir, "orders", "lineitem", "supplier")
    o = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    l = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    lines = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    # ONE pass (r13 scan-dedup audit): the r12 shape referenced `lines`
    # twice (per-order countDistinct branch + late-pairs distinct
    # branch), so Catalyst planned the lineitem⋈orders subtree twice —
    # 2 lineitem + 2 orders scans — and the two countDistincts cost an
    # Expand (2x rows through the aggregate). Collapsing to the
    # distinct (order, supplier, any_late) table first makes both
    # order-level stats a window over it and the late pairs a plain
    # filter: n_supp == COUNT(*) per order over distinct pairs,
    # n_late_supp == Σ any_late, late pairs == any_late rows. Same
    # rows, one scan each, no Expand. A NULL supplier is dropped first:
    # COUNT(DISTINCT l_suppkey) ignores it, a group of its own would not.
    from pyspark.sql.window import Window

    sup_stat = lines.where(F.col("l_suppkey").isNotNull()).groupBy(
        "l_orderkey", "l_suppkey"
    ).agg(
        F.max("is_late").alias("any_late")
    )
    w_ord = Window.partitionBy("l_orderkey")
    flagged = sup_stat.withColumns(
        {
            "n_supp": F.count(F.lit(1)).over(w_ord),
            "n_late_supp": F.sum(F.col("any_late").cast("int")).over(w_ord),
        }
    )
    return (
        flagged.where(
            F.col("any_late")
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(su.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


_Q21_SQL = """
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM lines GROUP BY l_orderkey
), culprit AS (
  SELECT l_orderkey FROM per_order WHERE n_supp >= 2 AND n_late_supp = 1
), late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lines WHERE is_late
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late
JOIN culprit  ON late.l_orderkey = culprit.l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti-join + scalar avg)
# ---------------------------------------------------------------------------


def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (no c_phone — grouped by nation instead of
    phone country code): count + balance of above-average-balance
    customers with no orders since 1999. The scalar AVG subquery is a
    1-row broadcast cross join (exact decimal avg); NOT EXISTS is a
    LEFT ANTI join on the customer key. Scale: customer is the largest
    table touched; orders contributes only its custkey column to the
    anti side."""
    cu, orders, na = tpch_tables(spark, sf_dir, "customer", "orders", "nation")
    avg_bal = (
        cu.where(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("string").cast("double") / F.count("*")).alias("avg_bal")
        )
    )
    recent = orders.where(F.col("o_orderdate") >= _ts("1999-01-01")).select("o_custkey")
    c = (
        cu.select("c_custkey", "c_nationkey", "c_acctbal")
        .join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
    )
    return (
        c.join(F.broadcast(na), c.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("string").cast("double").alias("totacctbal"),
        )
    )


_Q22_SQL = """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  )
GROUP BY n_name
"""


QUERIES = {
    "tpch_q1": q1,
    "tpch_q3": q3,
    "tpch_q4": q4,
    "tpch_q5": q5,
    "tpch_q6": q6,
    "tpch_q7": q7,
    "tpch_q8": q8,
    "tpch_q9": q9,
    "tpch_q10": q10,
    "tpch_q13": q13,
    "tpch_q14": q14,
    "tpch_q15": q15,
    "tpch_q16": q16,
    "tpch_q17": q17,
    "tpch_q18": q18,
    "tpch_q19": q19,
    "tpch_q20": q20,
    "tpch_q21": q21,
    "tpch_q22": q22,
}

ORACLES = {
    "tpch_q1": _Q1_SQL,
    "tpch_q3": _Q3_SQL,
    "tpch_q4": _Q4_SQL,
    "tpch_q5": _Q5_SQL,
    "tpch_q6": _Q6_SQL,
    "tpch_q7": _Q7_SQL,
    "tpch_q8": _Q8_SQL,
    "tpch_q9": _Q9_SQL,
    "tpch_q10": _Q10_SQL,
    "tpch_q13": _Q13_SQL,
    "tpch_q14": _Q14_SQL,
    "tpch_q15": _Q15_SQL,
    "tpch_q16": _Q16_SQL,
    "tpch_q17": _Q17_SQL,
    "tpch_q18": _Q18_SQL,
    "tpch_q19": _Q19_SQL,
    "tpch_q20": _Q20_SQL,
    "tpch_q21": _Q21_SQL,
    "tpch_q22": _Q22_SQL,
}


# ---------------------------------------------------------------------------
# Q2 / Q11 / Q12 — partsupp/shipmode-bound originals, adapted: the
# supplier-part relation is derived from lineitem (supply cost proxy =
# the minimum observed extended price per (part, supplier)), and Q12's
# ship modes become return-flag buckets. Same plan shapes as the
# originals: min-per-group scalar subquery (Q2), group-share threshold
# against a corpus scalar (Q11), conditional counts over a fact join
# (Q12).
# ---------------------------------------------------------------------------


def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted: minimum-cost supplier per qualifying part
    (size 15, SMALL type) among ASIA suppliers, cost = min observed
    line price for the (part, supplier) pair. The correlated min
    subquery is a window min over the ALREADY-AGGREGATED candidate
    table. Scale: lineitem aggregates once on (part, supplier); part /
    supplier / nation / region broadcast."""
    from pyspark.sql.window import Window

    li, su, na, re, pa = tpch_tables(
        spark, sf_dir, "lineitem", "supplier", "nation", "region", "part"
    )
    ps = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost_dec"))
    )
    asia = re.where(F.col("r_name") == "ASIA").select("r_regionkey")
    n = na.join(F.broadcast(asia), na.n_regionkey == asia.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    s = su.join(F.broadcast(n), su.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name", "n_name"
    )
    p = pa.where((F.col("p_size") == 15) & (F.col("p_type") == "SMALL")).select(
        "p_partkey", "p_name"
    )
    cand = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
    )
    w = Window.partitionBy("p_partkey")
    best = cand.withColumn("min_cost", F.min("cost_dec").over(w)).where(
        F.col("cost_dec") == F.col("min_cost")
    )
    return best.select(
        "p_partkey",
        "p_name",
        "s_name",
        "n_name",
        F.col("cost_dec").cast("string").cast("double").alias("supply_cost"),
    )


_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost_dec
  FROM lineitem GROUP BY 1, 2
), cand AS (
  SELECT p_partkey, p_name, s_name, n_name, cost_dec
  FROM ps
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND p_type = 'SMALL' AND r_name = 'ASIA'
)
SELECT p_partkey, p_name, s_name, n_name,
       CAST(CAST(cost_dec AS VARCHAR) AS DOUBLE) AS supply_cost
FROM cand
WHERE cost_dec = (
  SELECT MIN(c2.cost_dec) FROM cand c2 WHERE c2.p_partkey = cand.p_partkey
)
"""


def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted: parts carrying more than TWICE the average
    part's share of NATION_5 suppliers' total line value. The official
    query's ``0.0001/SF`` fraction is a constant multiple of the
    average share (the fraction shrinks exactly as the part count
    grows) — spelling the threshold as ``value · n_parts > 2 · total``
    keeps that self-normalizing semantics at EVERY scale factor: the
    old fixed ``value · 10000 > total`` form legitimately returned 0
    rows at sf1 (10× parts → 10× harder threshold), so the sf1 row
    proved execution, not detection (VERDICT r9 ask #6). The share
    comparison stays EXACT decimal·integer — no float boundary flips.
    Scale: one (part)-keyed aggregation; total and part count ride a
    1-row broadcast cross join."""
    li, su, na = tpch_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    n5 = na.where(F.col("n_name") == "NATION_5").select("n_nationkey")
    s = su.join(F.broadcast(n5), su.s_nationkey == n5.n_nationkey).select("s_suppkey")
    v = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value_dec"))
        # the totals branch below re-reads this aggregate
        .localCheckpoint(eager=False)
    )
    tot = v.agg(
        F.sum("value_dec").alias("tot_dec"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return (
        v.join(F.broadcast(tot))
        .where(F.col("value_dec") * F.col("n_parts") > F.col("tot_dec") * 2)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("string").cast("double").alias("part_value"),
        )
    )


_Q11_SQL = """
WITH v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
  GROUP BY l_partkey
), t AS (
  SELECT SUM(value_dec) AS tot_dec, CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM v
)
SELECT l_partkey AS p_partkey, CAST(CAST(value_dec AS VARCHAR) AS DOUBLE) AS part_value
FROM v, t
WHERE value_dec * n_parts > tot_dec * 2
"""


def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no l_shipmode — return flags as the buckets):
    per flag, how many 1996 shipments belonged to high- vs low-priority
    orders. One fact join + conditional counts; the date filter pushes
    to the scan."""
    orders, li = tpch_tables(spark, sf_dir, "orders", "lineitem")
    o = orders.select("o_orderkey", "o_orderpriority")
    l = li.where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""

QUERIES.update({"tpch_q2": q2, "tpch_q11": q11, "tpch_q12": q12})
ORACLES.update({"tpch_q2": _Q2_SQL, "tpch_q11": _Q11_SQL, "tpch_q12": _Q12_SQL})
