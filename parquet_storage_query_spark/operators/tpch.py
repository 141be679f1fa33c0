"""TPC-H-shape OLAP pack (SURVEY.md §2.4-2.6 depth).

The reference's query surface (QueryOrchestration.cs:392-470, A1-A7) is
point/aggregate lookups; a user replacing it with this engine also expects
the classic warehouse query shapes over the same star schema. This module
adds all 22 canonical TPC-H patterns adapted to the driver corpus's
simplified columns (no partsupp table, no l_commitdate/l_receiptdate/
l_shipmode, no c_phone/o_comment). Q11/Q20/Q21's defining predicates name
absent columns, so those three keep the defining SHAPE — global-threshold
HAVING subquery, correlated-scalar semi-join chain, double
EXISTS/NOT-EXISTS self-correlation — over the observed lineitem columns;
each docstring states its substitution.

Every query carries a full DuckDB oracle (hash-checked by the driver gate)
and a 100 TB plan note. Common scale themes:
- constant-size sides (nation/region, 1-row scalar aggregates, tie sets)
  carry explicit broadcast hints; corpus-PROPORTIONAL sides (part slices,
  supplier, customer projections) carry NO hint — AQE/size estimates
  broadcast them while small and degrade to shuffle joins at 100 TB
  instead of OOMing executors (the q18 lesson, ADVICE r4). Facts shuffle
  at most once per distinct join key either way;
- selective dim predicates applied BEFORE the join so the broadcast side
  stays small and the fact scan is semi-reduced early;
- top-k endings are TakeOrderedAndProject (per-task heaps), never a global
  sort;
- disjunctive mixed-table predicates (Q19) are manually factored into
  single-table implicates so the parquet scans prune even though Catalyst
  cannot push the mixed OR itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query


def _ts(s: str):
    return F.to_timestamp(F.lit(s))


# Line revenue sum(price * (1 - disc)) on q1's exact e4 integer lattice,
# rounded half-up to cents by one integer rule, returned as cents / 100.
# One SQL text serves the Spark builders (F.expr) and the DuckDB oracles
# of q3/q10/q19: a DOUBLE sum rounded to 2 places splits the two engines
# on half-cent ties (exact 541453.795 read .80 on Spark, .79 on DuckDB).
_REV_E4 = (
    "CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * CAST(1 - l_discount AS DECIMAL(5,2)) * 10000 AS BIGINT)) AS BIGINT)"
)
EXACT_REVENUE_SQL = f"CAST({_REV_E4} + 50 - ({_REV_E4} + 50) % 100 AS DOUBLE) / 10000"


# ---------------------------------------------------------------------------
# Q2 shape: cheapest supplier per part (correlated min over a join)
# ---------------------------------------------------------------------------


@query(
    "q2_min_price_supplier",
    oracle="""
    WITH price AS (
        SELECT l_partkey, l_suppkey,
               min((CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)
                   // CAST(l_quantity AS BIGINT)) AS unit_milli
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, unit_milli,
               row_number() OVER (PARTITION BY p_partkey
                                  ORDER BY unit_milli, s_suppkey) AS rn
        FROM part
        JOIN price    ON l_partkey = p_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE p_type = 'STANDARD' AND p_size <= 10
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, unit_milli
    FROM ranked WHERE rn = 1
    ORDER BY unit_milli DESC, p_partkey
    LIMIT 25
    """,
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp in this corpus, so the observed lineitem
    unit price stands in for ps_supplycost): for each STANDARD small part,
    the supplier offering the lowest average unit price.

    Plan: the per-(part, supplier) price table is ONE partial-aggregated
    shuffle of the fact keyed by (partkey, suppkey); the filtered part
    slice and the supplier dim join into it (no hints — both grow with
    the corpus; AQE broadcasts them while small), so the correlated
    "min per part" is a window over data already partitioned by partkey —
    no second fact shuffle. At 100 TB the only big exchange is the first
    keyed aggregate; everything after operates on |part×supplier| rows.

    The unit price ranks in exact integer milli-units — cents(price)·1000
    DIV qty, folded with MIN — because rounding a float AVG at 2 decimals
    sits on a half-cent tie for real data (observed at sf0.1: 521.545
    splitting 521.54/521.55 across engines). Integer min is
    order-independent and bit-identical everywhere, which is also what a
    1000-executor merge needs."""
    li = load(spark, sf_dir, "lineitem")
    price = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.expr(
                    "(CAST(round(l_extendedprice * 100) AS BIGINT) * 1000)"
                    " DIV CAST(l_quantity AS BIGINT)"
                )
            ).alias("unit_milli")
        )
    )
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name")
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    w = W.partitionBy("p_partkey").orderBy("unit_milli", "s_suppkey")
    return (
        price.join(part, price.l_partkey == part.p_partkey)
        .join(supp, price.l_suppkey == supp.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_milli")
        .orderBy(F.col("unit_milli").desc(), "p_partkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Q4 shape: order priority checking (EXISTS semi-join)
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a half-year window with at least one late
    line (shipped >60 days after order date — this corpus has no
    l_commitdate, so lateness is measured against the order date), counted
    by priority.

    Plan: date-filtered orders LEFT SEMI join lineitem on orderkey with the
    lateness inequality as a residual condition — one keyed shuffle of each
    side, the semi join deduplicates order-side matches without
    materializing them, then a 5-group aggregate. The date filter reaches
    the orders parquet scan (partition-prunable at 100 TB)."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-07-01 00:00:00"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q5 shape: local supplier volume (6-way star join)
# ---------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l_discount AS DECIMAL(5,2))
                         * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue_e4 DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation for orders where the supplier and the
    customer share a nation, restricted to one region and one year.

    Plan: supplier⋈nation⋈region collapses to a single broadcast-able dim
    (suppliers in ASIA nations) BEFORE touching facts. lineitem joins it on
    suppkey (hint-free — the slice is corpus-proportional; AQE broadcasts
    it while small), orders⋈customer shuffles once on custkey, then
    the two halves meet on orderkey — the local-supplier condition
    c_nationkey = s_nationkey rides as a residual on that join rather than
    a separate exchange. Two fact shuffles total (custkey, orderkey), both
    unavoidable: they are the star's fact-to-fact keys. The 25-row result
    aggregate is map-side partial first."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    co = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(co, (F.col("l_orderkey") == co.o_orderkey) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)")
                    * 10000
                ).cast("long")
            ).alias("revenue_e4")
        )
        .orderBy(F.col("revenue_e4").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Q6 shape: forecast revenue change (pure scan-aggregate, pushdown showcase)
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_discount AS DECIMAL(5,2))
                         * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the canonical scan-filter-aggregate. All three predicates
    (ship year, discount band, quantity cap) are single-column comparisons
    that reach the parquet scan as PushedFilters and prune row groups by
    min/max statistics; the projection is 4 columns out of 11. At 100 TB
    this is the query shape where pushdown alone decides cost — no shuffle
    at all beyond the final single-row partial-sum merge
    (tests/test_plans.py asserts the pushed filters)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount").cast("decimal(5,2)")
                    * 10000
                ).cast("long")
            ).alias("revenue_e4")
        )
    )


# ---------------------------------------------------------------------------
# Q7 shape: volume shipping between two nations
# ---------------------------------------------------------------------------


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume_e4) AS BIGINT) AS revenue_e4
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(5,2))
                    * 10000 AS BIGINT) AS volume_e4
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship year.

    Plan: each nation filter collapses into its OWN dim before the facts —
    suppliers of either nation join into lineitem (hint-free), customers of either
    nation shuffle with orders — so the facts are semi-reduced to the ~8%
    of rows involving the two nations before the orderkey join. The
    cross-nation disjunction is applied as a residual on the final join
    (it references both sides); by then each side already carries only the
    two candidate nations, so the residual rejects at most half the rows
    instead of 624/625ths."""
    nations = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    co = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(co, F.col("l_orderkey") == co.o_orderkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)")
                    * 10000
                ).cast("long")
            ).alias("revenue_e4")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 shape: national market share (conditional share aggregate)
# ---------------------------------------------------------------------------


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(5,2)) AS DECIMAL(24,4))
                 AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ECONOMY-part volume sold into EUROPE
    customers, per order year — the conditional-numerator / total-
    denominator share computed in ONE aggregate pass (sum(CASE)/sum), never
    two scans.

    Plan: part slice and supplier-nation map join into lineitem (hint-free
    — corpus-proportional sides);
    customer⋈nation⋈region collapses to a broadcast-able EUROPE customer
    set joined to orders on custkey; facts meet once on orderkey. Both
    share terms are rounded to 2 decimals BEFORE the division so the
    cross-engine double quotient is taken over identical operands, then
    rounded to 4."""
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select("s_suppkey", "supp_nation")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = load(spark, sf_dir, "nation")
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    co = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    vol = (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)")).cast("decimal(24,4)")
    zero = F.lit(0).cast("decimal(24,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(co, F.col("l_orderkey") == co.o_orderkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)
                ).cast("double")
                / F.sum(vol).cast("double"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year
# ---------------------------------------------------------------------------


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, o_year,
           CAST(sum(amount_e4) AS DOUBLE) / 10000.0 AS profit
    FROM (
        SELECT n_name, year(o_orderdate) AS o_year,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 - 60 * CAST(round(p_retailprice * 100) AS BIGINT)
                      * CAST(l_quantity AS BIGINT) AS amount_e4
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%green%' OR p_name LIKE '%red%'
    ) profit
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a part-name slice by supplier nation and
    order year. This corpus has no partsupp.ps_supplycost; cost is modeled
    as 60% of p_retailprice (documented constant), which preserves the
    plan shape exactly: a LIKE-sliced part dim and supplier-nation map
    joined into lineitem (hint-free), one orderkey shuffle to pick up the year,
    partial-aggregated group on (nation, year). The LIKE predicates are a
    substring scan pushed to the part dim only — the fact never evaluates
    them.

    Profit accumulates in EXACT integer 10⁻⁴-dollar units (price and
    discount are 2-decimal, so their product is 4-decimal-exact; the 0.6
    cost factor is 60 in those units): at 10× data the per-group double
    sums reach ~1e8 where summation-order drift exceeds a cent and
    round(sum,2) split the engines — integer sums are order-independent
    at any scale, and the final /10000.0 of identical int64s is the
    identical double on both engines, so the display needs no rounding
    call at all."""
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%green%") | F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    amount_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    ) - 60 * F.round(F.col("p_retailprice") * 100).cast("long") * F.col(
        "l_quantity"
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount_e4.alias("amount_e4"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("amount_e4").cast("double") / 10000.0).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# Q10 shape: returned-item reporting (top-20 customers by lost revenue)
# ---------------------------------------------------------------------------


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {EXACT_REVENUE_SQL} AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a half-year
    window. The returnflag filter reaches the lineitem scan (dictionary-
    encoded column → row-group pruning); date-filtered orders shuffle once
    with lineitem on orderkey, then once on custkey into customer⋈nation
    (nation broadcast). Top-20 is TakeOrderedAndProject on the exact
    half-up cent revenue (EXACT_REVENUE_SQL) with custkey tiebreak."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-07-01 00:00:00"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.expr(EXACT_REVENUE_SQL).alias("revenue"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12 shape: late-shipment priority audit
# ---------------------------------------------------------------------------


@query(
    "q12_late_shipments",
    oracle="""
    SELECT year(l_shipdate) AS ship_year,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY ship_year
    ORDER BY ship_year
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode column — the group key is the ship
    year and lateness is measured against the order date): for lines
    shipped >90 days after their order, how many belong to high- vs
    low-priority orders, the one-pass sum(CASE) pivot.

    Plan: one orderkey shuffle joining the two facts; the lateness
    predicate is a residual (references both sides). The pivot aggregate
    is map-side partial — two counters per task per year."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution
# ---------------------------------------------------------------------------


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts (customers
    with zero qualifying orders included — the LEFT OUTER is load-bearing;
    the priority exclusion stands in for the original's comment NOT LIKE).
    Two aggregations: custkey (big, partial-agg'd shuffle) then the tiny
    count-of-counts. count(o_orderkey) counts non-null join matches, so
    unmatched customers land in the c_count=0 bucket exactly as the SQL
    does."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q14 shape: promotion revenue share
# ---------------------------------------------------------------------------


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                               * CAST(1 - l_discount AS DECIMAL(5,2))
                               AS DECIMAL(24,4))
                     ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * CAST(1 - l_discount AS DECIMAL(5,2))
                                 AS DECIMAL(24,4))) AS DOUBLE),
                 4) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts —
    numerator and denominator in one aggregate pass over the part join
    (hint-free — part grows with the corpus). The month filter prunes the fact scan; the part dim carries only
    (partkey, is-promo). Both sums rounded before the division (identical
    operands cross-engine), quotient rounded to 4."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-03-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
    )
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)")).cast("decimal(24,4)")
    zero = F.lit(0).cast("decimal(24,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q15 shape: top supplier by quarterly revenue
# ---------------------------------------------------------------------------


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with the maximum quarterly revenue —
    the view-plus-scalar-subquery pattern. The |supplier|-row revenue
    view is one partial-agg'd suppkey shuffle, materialized ONCE
    (localCheckpoint via session_memo — the suite's prepared-statement
    pattern) because it feeds two consumers, the ranking and its own
    max, and Catalyst does not reuse the exchange across them (verified
    on the executed plan: without the checkpoint the quarter slice of
    the fact is scanned twice). The scalar max is a one-row aggregate
    broadcast back as a cross join — never an unpartitioned window,
    never a driver collect. Ties survive exactly as SQL's `= max` keeps
    them; revenue is rounded before the comparison so the tie set
    replays across engines."""
    from ..cache import session_memo

    def _view() -> DataFrame:
        li = load(spark, sf_dir, "lineitem").filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
        )
        return (
            li.groupBy(F.col("l_suppkey").alias("supplier_no"))
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("total_revenue")
            )
            .localCheckpoint(eager=True)
        )

    revenue = session_memo(spark, sf_dir, "q15_revenue_view", _view)
    best_rev = revenue.agg(F.max("total_revenue").alias("_max"))
    best = revenue.crossJoin(F.broadcast(best_rev)).filter(
        F.col("total_revenue") == F.col("_max")
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        F.broadcast(best)
        .join(supp, best.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16 shape: supplier diversity per part segment
# ---------------------------------------------------------------------------


@query(
    "q16_supplier_diversity",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 20
    """,
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supply relationships observed from lineitem instead
    of the absent partsupp): how many distinct suppliers serve each
    (brand, type, size) segment, excluding one brand, one type, and
    limited to the classic size set.

    Plan: the three part predicates prune the part side's scan (IN-set and
    inequalities push to its scan); count(DISTINCT) expands to the
    standard two-phase distinct aggregate: first partial-dedup on
    (segment, suppkey), then count — both phases map-side-combined. The
    top-20 is TakeOrdered with full tiebreak."""
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q17 shape: small-quantity revenue (correlated average)
# ---------------------------------------------------------------------------


@query(
    "q17_small_quantity",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from orders of less than 20% of a part's average
    quantity, for one brand. The correlated per-part average becomes a
    per-partkey aggregate joined back — but ONLY for the brand's parts:
    the brand slice joins into the aggregate input as well as the
    outer scan, so the avg table is |brand parts| rows, not |part|. One
    fact scan feeds both sides via the same pruned column set; at 100 TB
    the avg side is a partial-agg'd shuffle of the brand's rows only.

    The threshold comparison (integer-valued quantity vs sum/(5·count))
    is exact in binary64 on both engines — sums of integer-valued doubles
    are exactly representable far past this corpus size."""
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_li = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = brand_li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("_thresh")
    )
    return (
        brand_li.join(avg_qty, brand_li.l_partkey == avg_qty._pk)
        .filter(F.col("l_quantity") < F.col("_thresh"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive predicate revenue (manual implicate factoring)
# ---------------------------------------------------------------------------


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {EXACT_REVENUE_SQL} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of three (brand, size, quantity)
    conjunctions mixing columns from both tables.

    Catalyst cannot push a mixed-table OR below the join, so the classic
    Q19 optimization is done by hand: each side gets the UNION of its own
    implicates as a pre-join filter (part: the brand/size disjunction;
    lineitem: quantity 1-30), which prunes both scans, and the exact
    three-way predicate is re-applied post-join as the residual. The part
    sides are then small enough for AQE to broadcast at any realistic
    slice size. Same answer, but the fact scan reads only the
    quantity band instead of everything
    (tests/test_plans.py asserts the pushed lineitem range)."""
    brand_size = (
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 35))
    )
    part = load(spark, sf_dir, "part").filter(brand_size).select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30)).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    exact = (
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(exact)
        .agg(F.expr(EXACT_REVENUE_SQL).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q22 shape: idle high-balance customers (scalar subquery + anti join)
# ---------------------------------------------------------------------------


@query(
    "q22_idle_customers",
    oracle="""
    WITH threshold AS (
        SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, threshold
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (grouped by nation instead of the absent phone
    prefix): customers with above-average positive balances and no recent
    orders (none since 1998 — this corpus's order stream covers every
    customer, so "never ordered" would be empty; lapsed is the useful
    audit and keeps the anti join selective instead of vacuous).

    Plan: the scalar average is a one-row aggregate broadcast as a cross
    join (never collected to the driver — the literal stays in the plan);
    the NOT EXISTS is a LEFT ANTI join on custkey, which at 100 TB is one
    keyed shuffle of the date-filtered orders custkey projection (the date
    predicate prunes that scan) against the filtered customer slice. Both
    classic Q22 pieces — scalar subquery and anti-correlated EXISTS — in
    their distributed forms."""
    cust = load(spark, sf_dir, "customer")
    threshold = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("1998-01-01 00:00:00"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Q11 shape: important stock identification (global-threshold HAVING)
# ---------------------------------------------------------------------------


@query(
    "q11_important_stock",
    oracle="""
    WITH val AS (
        SELECT l_partkey AS p_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
    ), thr AS (
        SELECT sum(value_cents) AS total_cents, count(*) AS n_parts FROM val
    )
    SELECT p_partkey, value_cents
    FROM val, thr
    WHERE value_cents * n_parts > 2 * total_cents
    ORDER BY value_cents DESC, p_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp, so observed lineitem value — exact
    integer cents of extendedprice — stands in for supplycost·availqty):
    parts whose total value shipped by one nation's suppliers exceeds a
    global threshold computed as a scalar subquery over the SAME aggregate.
    TPC-H scales Q11's fraction by 1/SF; this corpus's stand-in is
    SF-free — "worth more than twice the average part" — so the query is
    meaningful at every scale without knowing SF (QueryOrchestration.cs:392
    A-series analogue: grouped value rollup + global-threshold HAVING).

    Plan: nation (25 rows, constant) broadcasts into supplier; the fact
    joins the nation's supplier slice (corpus-proportional → NO hint; AQE
    broadcasts while small) and partial-aggregates into ONE partkey-keyed
    shuffle. The |part|-bounded value table is localCheckpoint-memoized
    (q15's prepared-view pattern) because it feeds two consumers — its own
    1-row total and the threshold filter — and Catalyst does not reuse the
    exchange across them; the scalar total then broadcasts back as a cross
    join, never a driver collect. Values rank in exact integer cents, so
    the threshold comparison and the ordering are executor-order exact."""
    from ..cache import session_memo

    def _val() -> DataFrame:
        nat = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
        supp = (
            load(spark, sf_dir, "supplier")
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey")
        )
        li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
        return (
            li.join(supp, li.l_suppkey == supp.s_suppkey)
            .groupBy(F.col("l_partkey").alias("p_partkey"))
            .agg(
                F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
                    "value_cents"
                )
            )
            .localCheckpoint(eager=True)
        )

    val = session_memo(spark, sf_dir, "q11_value_view", _val)
    thr = val.agg(
        F.sum("value_cents").alias("total_cents"), F.count("*").alias("n_parts")
    )
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("value_cents") * F.col("n_parts") > 2 * F.col("total_cents"))
        .select("p_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "p_partkey")
    )


# ---------------------------------------------------------------------------
# Q20 shape: potential part promotion (correlated scalar + semi-join chain)
# ---------------------------------------------------------------------------


@query(
    "q20_dominant_suppliers",
    oracle="""
    WITH pq AS (
        SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%gear%'
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM pq
        WHERE 2 * qty > (SELECT sum(qty) FROM pq p2
                         WHERE p2.l_partkey = pq.l_partkey)
    )
    ORDER BY s_name
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp availqty, so "has excess stock" becomes
    the observable twin: SUPPLIES MORE THAN HALF of a part's volume):
    suppliers who shipped more than 50% of the two-year volume of some
    'gear' part — the correlated-scalar comparison feeding a semi-join
    chain up to the supplier list, exactly Q20's nesting.

    Plan: the name/date predicates prune both scans (LIKE prunes part,
    the ship window prunes the fact); the per-(part, supplier) quantity
    table is ONE partial-agg'd shuffle. The correlated per-part total is
    a window over that aggregate partitioned by partkey — |part×supplier|
    rows, never a second fact scan — and the final IN is a LEFT SEMI join
    into supplier (dominant-key side is aggregate-sized; AQE broadcasts
    it). Quantities are integer-valued doubles cast to BIGINT, so the
    2·qty > total comparison is exact on both engines."""
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1995-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    pq = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
    )
    w = W.partitionBy("l_partkey")
    dominant = (
        pq.withColumn("total_qty", F.sum("qty").over(w))
        .filter(2 * F.col("qty") > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q21 shape: suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH l AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey
    )
    SELECT s_name, count(*) AS numwait
    FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.late = 1
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late = 1)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no l_receiptdate/l_commitdate, so "received after
    commit" becomes the observable ship lag: shipped more than 90 days
    after the order date): for finalized orders, suppliers who were the
    SOLE late shipper on a multi-supplier order — Q21's double correlated
    EXISTS (another supplier participated) / NOT EXISTS (no other supplier
    was late), the hardest nesting in the suite.

    Plan: ONE fact shuffle total. The status-filtered orders join keys the
    fact by orderkey; the per-(order, supplier) late-flag aggregate groups
    by (orderkey, suppkey), which REUSES the join's orderkey hash
    partitioning (a subset of the group keys satisfies the clustered
    distribution — no new exchange), and both correlated EXISTS collapse
    into counts over a window partitioned by orderkey on the SAME
    partitioning: n_supps > 1 is the EXISTS, late_supps == 1 is the NOT
    EXISTS. The final per-supplier census is an aggregate-sized shuffle
    and the top-100 is TakeOrderedAndProject with the full (numwait desc,
    name) tiebreak. The oracle states the literal EXISTS/NOT-EXISTS text
    so the differential proves the window decomposition."""
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    w = W.partitionBy("l_orderkey")
    flagged = per_supp.withColumn("n_supps", F.count("*").over(w)).withColumn(
        "late_supps", F.sum("late").over(w)
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.filter(
            (F.col("late") == 1) & (F.col("n_supps") > 1) & (F.col("late_supps") == 1)
        )
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
