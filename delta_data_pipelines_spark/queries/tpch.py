"""TPC-H-shaped throughput queries over the harness star schema.

The reference's relational surface is dimension-lookup joins + one
pivot (SURVEY §2.3-2.4); these queries are the scale-stress versions
the 100 TB story needs: wide scans with tight projections, multi-way
joins with broadcastable dims, and large hash aggregations.

Plan notes (verified via .explain):
  - q1 is a two-phase hash agg (partial → final) over a 4-column scan;
    column pruning reaches the parquet reader (ReadSchema 4/16 cols).
  - q3/q5 broadcast every dimension side (customer at sf0.1 is ~15k
    rows; at 100 TB switch to shuffle join for customer — Spark's AQE
    does this automatically past the broadcast threshold).
  - money sums run in DECIMAL(18,2): exact, associative, and identical
    across engines — float sums would differ by partial-agg order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.staging import stage

from ..catalog import read_table


def _dec(col: str):
    return F.col(col).cast("decimal(18,2)")


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: the canonical scan+agg throughput probe."""
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # sums run exact in decimal (associative, engine-identical);
            # FINAL columns are cast to double so the driver's
            # type-sensitive digest sees the same float64 on both sides
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: fact-fact join with a broadcast dim filter."""
    c = read_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1997-03-15"))
    l = read_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1997-03-15"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(20)
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume: the full dim-chain join
    (region→nation→{customer,supplier}→orders→lineitem)."""
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change: the pure scan-throughput probe — every
    predicate pushes to the parquet reader, output is one row."""
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (_dec("l_extendedprice") * _dec("l_discount")).cast("decimal(18,4)")
            ).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
    )


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority buckets: fact-fact join + conditional-count
    aggregation (the CASE-inside-SUM shape, like the EAV pivot)."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).cast("long").alias("high_line_count"),
            F.sum(
                F.when(
                    ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (q4 shape, adapted: the harness lineitem
    has no commit/receipt dates, so "late line" = shipped after more
    than 60 days): EXISTS semi-join + count by priority."""
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    late = l.select("l_orderkey", "l_shipdate")
    # INTERVAL arithmetic, not date_add: o_orderdate is a TIMESTAMP and
    # date_add would truncate to DATE, diverging from the oracle's
    # `+ INTERVAL 60 DAY` on intraday timestamps.
    joined = o.join(
        late,
        (o.o_orderkey == late.l_orderkey)
        & (late.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue: top 20 customers by lost revenue —
    fact-fact join + broadcast dims + TakeOrdered(20)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect: conditional revenue share over one month —
    CASE-inside-SUM ratio, both sums exact decimal then one double
    division (identical across engines)."""
    p = read_table(spark, sf_dir, "part")
    l = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    disc = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )).cast("double")
                / F.sum(disc).cast("double"),
                9,
            ).alias("promo_revenue_pct")
        )
    )


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (q18): HAVING on an aggregated fact,
    then join back to orders/customer. The inner agg's output is tiny
    after the HAVING filter → broadcast to the join."""
    l = read_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_sumq"))
        .where(F.col("_sumq") > 150)
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_sumq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (q2 shape): correlated MIN subquery →
    aggregate + join-back on (key, min_value). lineitem stands in for
    partsupp (the harness has no partsupp table); the min is an exact
    DECIMAL so the equality join-back never hits float-tie ambiguity.
    Plan: broadcast the filtered part dim into the fact BEFORE the
    aggregate so the min runs over the pruned rows only. The per-partkey
    min side is NOT hinted — it scales with the fact table, so a forced
    broadcast would OOM at 100x; AQE promotes it to broadcast at runtime
    whenever it is actually small (it is at test SFs)."""
    p = read_table(spark, sf_dir, "part").where(F.col("p_size") < 10)
    s = read_table(spark, sf_dir, "supplier")
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _dec("l_extendedprice").alias("price")
    )
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_suppkey", "price", "p_name"
    )
    minp = lp.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("price").alias("min_price")
    )
    return (
        lp.join(
            minp,
            (lp.l_partkey == minp.m_partkey) & (lp.price == minp.min_price),
        )
        .join(F.broadcast(s), lp.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            F.col("min_price").cast("double").alias("min_price"),
        )
        .distinct()
        .orderBy("p_partkey", "s_name")
    )


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (q13): LEFT OUTER join with an
    ON-clause filter (zero-order customers must survive), then a
    double aggregation — count per customer, histogram over counts."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-part relationship count (q16): DISTINCT aggregate over
    an anti-joined fact — NOT IN (negative-balance suppliers) becomes
    a broadcast left-anti join, never a per-row subquery."""
    p = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("MEDIUM"))
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 25, 28, 38, 47)
    )
    excl = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    ps = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(excl), ps.l_suppkey == excl.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (q19): OR-of-ANDs disjunctive predicate over
    a broadcast join — the classic test that a disjunction still
    prunes (each arm's part filters reach the broadcast build side;
    the residual runs post-join in codegen, no fallback to NLJ)."""
    p = read_table(spark, sf_dir, "part")
    l = read_table(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        j.where(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#34", 15, 20, 30)
        ).agg(
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
    )


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales opportunity (q22 shape): scalar AVG subquery
    threshold + anti-join. The average is compared multiplied through
    (acctbal·N > ΣacctbalX) so every operand stays an exact DECIMAL —
    no float division whose rounding could flip borderline rows
    between engines. Anti-join target: customers with no URGENT order
    (the harness assigns every customer ≥1 order, so plain q22's
    "no orders at all" would be vacuous)."""
    c = read_table(spark, sf_dir, "customer")
    thr = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            F.sum(_dec("c_acctbal")).alias("_total"),
            F.count("*").alias("_n"),
        )
    )
    urgent = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .where(_dec("c_acctbal") * F.col("_n") > F.col("_total"))
        .join(F.broadcast(urgent), c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (q7): bidirectional nation-pair revenue by ship
    year. The two nation lookups are filtered to the wanted pair BEFORE
    joining supplier/customer, so the broadcast dims prune the fact
    join to the two nations' rows; the pair disjunction then only
    removes the two same-nation combinations."""
    n = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation"))
        ),
        F.col("s_nationkey") == F.col("_snk"),
    )
    c = read_table(spark, sf_dir, "customer").join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation"))
        ),
        F.col("c_nationkey") == F.col("_cnk"),
    )
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (q8): NATION_3's share of PROMO-part
    revenue among EUROPE customers by order year. The share division
    runs AFTER exact-decimal numerator/denominator sums; both sides
    round to 9 digits so float division is engine-identical."""
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n_all = read_table(spark, sf_dir, "nation")
    cn = n_all.join(
        F.broadcast(r), n_all.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("_cnk"))
    c = read_table(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk")
    )
    sn = n_all.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    )
    s = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("_snk")
    )
    p = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    vol = (
        (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
        .cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol)
                    .otherwise(F.lit(0).cast("decimal(18,4)"))
                ).cast("double")
                / F.sum(vol).cast("double"),
                9,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (q9): profit per supplier nation per order
    year over widget parts. The harness has no partsupp, so supply
    cost = p_retailprice * quantity * 0.5 (2dp price × integer qty ×
    exact 0.50 stays within DECIMAL(18,4) — no rounding divergence)."""
    p = read_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    sn = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("nation")
    )
    s = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("_snk")
    )
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    amount = (
        (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
        .cast("decimal(18,4)")
        - (
            _dec("p_retailprice") * _dec("l_quantity") * F.lit(0.5).cast("decimal(18,2)")
        ).cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock (q11): per-part inventory value with a
    HAVING-above-global-fraction threshold. lineitem stands in for
    partsupp (value = Σ price×qty); the scalar total broadcasts via
    crossJoin and the comparison stays exact DECIMAL×DECIMAL —
    0.0001 is DECIMAL(4,4), so no float threshold wobble."""
    nat = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2", "NATION_3")
    )
    s = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey
    ).select("s_suppkey")
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (_dec("l_extendedprice") * _dec("l_quantity")).cast("decimal(18,4)").alias("_val"),
    )
    lv = l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
    per_part = lv.groupBy("l_partkey").agg(F.sum("_val").alias("_pval"))
    total = lv.agg(F.sum("_val").alias("_tval"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("_pval") > F.col("_tval") * F.lit(0.0001).cast("decimal(4,4)"))
        .select("l_partkey", F.col("_pval").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (q15): quarterly revenue per supplier, return the
    supplier(s) at the max. The max-revenue scalar joins back by exact
    DECIMAL equality — the float-tie trap the view version of q15 is
    famous for never arises."""
    l = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))
            .cast("decimal(18,4)")
        ).alias("_rev")
    )
    top = rev.agg(F.max("_rev").alias("_max_rev"))
    s = read_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(top))
        .where(F.col("_rev") == F.col("_max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (q17): lines below 20% of their
    part's average quantity. The correlated AVG becomes a per-part
    aggregate joined back; `qty < 0.2 * avg` is multiplied through to
    `5 * qty * n < sum_qty` so every operand stays an exact DECIMAL
    (quantities are integers — no division anywhere). The per-part
    stats side carries one row per qualifying partkey — SF-proportional,
    so no broadcast hint: AQE picks broadcast only while it fits."""
    p = read_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#12")
    l = read_table(spark, sf_dir, "lineitem")
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", _dec("l_quantity").alias("_qty"), _dec("l_extendedprice").alias("_price")
    )
    stats = lp.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_qty").alias("_sum_qty"), F.count("*").alias("_n")
    )
    return (
        lp.join(stats, lp.l_partkey == stats._pk)
        .where(F.col("_qty") * F.lit(5) * F.col("_n") < F.col("_sum_qty"))
        .agg(
            F.round(F.sum("_price").cast("double") / 7.0, 9).alias("avg_yearly"),
            F.count("*").alias("n"),
        )
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part promotion (q20): suppliers in four nations who shipped more
    than 60 units of cold parts during 1996 — the nested IN-subqueries
    become aggregate → threshold → LEFT SEMI joins, no correlated
    execution anywhere."""
    parts = read_table(spark, sf_dir, "part").where(
        F.col("p_name").like("cold%")
    ).select("p_partkey")
    l = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    shipped = (
        l.join(F.broadcast(parts), l.l_partkey == parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .where(F.col("_qty") > 60)
        .select("l_suppkey")
    )
    nat = read_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2", "NATION_3")
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(nat), s.s_nationkey == nat.n_nationkey, "left_semi")
        # the qualifying-supplier set grows with SF (it's an aggregate
        # of lineitem), so it is not hinted: AQE broadcasts it at
        # runtime while it fits, falls back to shuffle join beyond that
        .join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waiting suppliers (q21): suppliers whose line was the ONLY late
    line in a multi-supplier finished order. "Late" reuses the q4
    adaptation (shipped > order date + 60 days, INTERVAL arithmetic on
    the full timestamp). EXISTS(another supplier in the order) and
    NOT EXISTS(another LATE supplier) are decided on per-order
    min/max-supplier aggregates (one partial-agg pass each) instead
    of fact-fact semi/anti self-joins — the r15 rewrite; equivalence
    argument at the aggregates below, proven against the oracle's
    EXISTS form."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # `late` feeds TWO consumers (the waiting rows and the per-order
    # late-supplier aggregate) and Spark 4.1.2 reuses no identical
    # exchanges (the r14 finding), so the un-staged form ran the
    # lineitem × orders join twice; stage it once (r15).
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .transform(stage, "staged")
    )
    # EXISTS(another supplier in the order) ⇔ the order's lines carry
    # ≥ 2 distinct suppliers ⇔ min(l_suppkey) ≠ max(l_suppkey) — a
    # single partial-agg pass over lineitem instead of shuffling every
    # (orderkey, suppkey) row into a fact-fact semi SMJ (guide §2.3
    # aggregate-before-shuffle / §8 decide-with-small-rows). Likewise
    # NOT EXISTS(another LATE supplier) ⇔ the order's LATE lines all
    # share one supplier ⇔ min = max over the staged late rows. Both
    # rewrites assume non-NULL l_suppkey (TPC-H's contract; the
    # original `<>` predicate and the oracle's EXISTS agree only under
    # that), so the per-order aggregate checks it — count(l_suppkey)
    # = count(*), else raise_error, in the same pass — and they keep
    # duplicate late lines intact: the aggregates are one row per
    # orderkey, so the semi joins multiply nothing.
    multi = (
        l.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("_mn"), F.max("l_suppkey").alias("_mx"),
            F.count("l_suppkey").alias("_n"), F.count("*").alias("_rows"),
        )
        .where(
            F.when(
                F.col("_n") == F.col("_rows"), F.col("_mn") != F.col("_mx")
            ).otherwise(F.raise_error(F.lit(
                "tpch_q21: NULL l_suppkey in lineitem (the min/max "
                "EXISTS rewrite needs every line's supplier)"
            )))
        )
        .select("l_orderkey")
    )
    solo_late = (
        late.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("_mn"), F.max("l_suppkey").alias("_mx")
        )
        .where(F.col("_mn") == F.col("_mx"))
        .select("l_orderkey")
    )
    waiting = late.join(multi, "l_orderkey", "left_semi").join(
        solo_late, "l_orderkey", "left_semi"
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        # group by s_name AFTER the supplier join — the oracle groups by
        # name, so grouping by suppkey and projecting the name would
        # diverge if two suppliers ever shared a name
        waiting.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


SPARK_QUERIES = {
    "tpch_q1": tpch_q1,
    "tpch_q3": tpch_q3,
    "tpch_q5": tpch_q5,
    "tpch_q6": tpch_q6,
    "tpch_q12": tpch_q12,
    "tpch_q4": tpch_q4,
    "tpch_q10": tpch_q10,
    "tpch_q14": tpch_q14,
    "tpch_q18": tpch_q18,
    "tpch_q2": tpch_q2,
    "tpch_q13": tpch_q13,
    "tpch_q16": tpch_q16,
    "tpch_q19": tpch_q19,
    "tpch_q22": tpch_q22,
    "tpch_q7": tpch_q7,
    "tpch_q8": tpch_q8,
    "tpch_q9": tpch_q9,
    "tpch_q11": tpch_q11,
    "tpch_q15": tpch_q15,
    "tpch_q17": tpch_q17,
    "tpch_q20": tpch_q20,
    "tpch_q21": tpch_q21,
}

_DISC = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
)

ORACLE_SQL = {
    "tpch_q1": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM({_DISC}) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "tpch_q3": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM({_DISC}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15'
          AND l_shipdate  > TIMESTAMP '1997-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 20
    """,
    "tpch_q12": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "tpch_q6": """
        SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "tpch_q5": f"""
        SELECT n_name, CAST(SUM({_DISC}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC
    """,
    "tpch_q4": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "tpch_q10": f"""
        SELECT c_custkey, c_name, n_name, c_mktsegment,
               CAST(SUM({_DISC}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name, c_mktsegment
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "tpch_q14": f"""
        SELECT ROUND(100.0 *
               CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC}
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
               CAST(SUM({_DISC}) AS DOUBLE), 9) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    "tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(big._sumq AS DOUBLE) AS sum_qty
        FROM orders
        JOIN (
            SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS _sumq
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
        ) big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "tpch_q2": """
        WITH lp AS (
            SELECT l_partkey, l_suppkey,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS price, p_name
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size < 10
        ), m AS (
            SELECT l_partkey AS m_partkey, MIN(price) AS min_price
            FROM lp GROUP BY l_partkey
        )
        SELECT DISTINCT lp.l_partkey AS p_partkey, p_name, s_name,
               CAST(m.min_price AS DOUBLE) AS min_price
        FROM lp
        JOIN m ON lp.l_partkey = m.m_partkey AND lp.price = m.min_price
        JOIN supplier ON lp.l_suppkey = s_suppkey
        ORDER BY p_partkey, s_name
    """,
    "tpch_q13": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q16": """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (1, 4, 7, 10, 14, 19, 25, 28, 38, 47)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "tpch_q19": f"""
        SELECT CAST(SUM({_DISC}) AS DOUBLE) AS revenue, COUNT(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q22": """
        SELECT c_mktsegment, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE CAST(c_acctbal AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                 FROM customer WHERE c_acctbal > 0)
          AND c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "tpch_q7": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM({_DISC}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "tpch_q8": f"""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               ROUND(
                 CAST(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN {_DISC}
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM({_DISC}) AS DOUBLE), 9) AS mkt_share
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_year
        ORDER BY o_year
    """,
    "tpch_q9": f"""
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(
                 {_DISC}
                 - CAST(CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(0.5 AS DECIMAL(18,2)) AS DECIMAL(18,4))
               ) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, o_year
        ORDER BY n_name, o_year DESC
    """,
    "tpch_q11": """
        WITH lv AS (
            SELECT l_partkey,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS _val
            FROM lineitem
            WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3')
            )
        )
        SELECT l_partkey, CAST(SUM(_val) AS DOUBLE) AS part_value
        FROM lv
        GROUP BY l_partkey
        HAVING SUM(_val) > (SELECT SUM(_val) FROM lv) * CAST(0.0001 AS DECIMAL(4,4))
        ORDER BY part_value DESC, l_partkey
    """,
    "tpch_q15": f"""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no, SUM({_DISC}) AS _rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(_rev AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE _rev = (SELECT MAX(_rev) FROM rev)
        ORDER BY s_suppkey
    """,
    "tpch_q17": """
        WITH lp AS (
            SELECT l_partkey,
                   CAST(l_quantity AS DECIMAL(18,2)) AS _qty,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS _price
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#12'
        ), stats AS (
            SELECT l_partkey AS _pk, SUM(_qty) AS _sum_qty, COUNT(*) AS _n
            FROM lp GROUP BY l_partkey
        )
        SELECT ROUND(CAST(SUM(_price) AS DOUBLE) / 7.0, 9) AS avg_yearly,
               COUNT(*) AS n
        FROM lp JOIN stats ON lp.l_partkey = stats._pk
        WHERE _qty * 5 * _n < _sum_qty
    """,
    "tpch_q20": """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3')
        )
        AND s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'cold%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 60
        )
        ORDER BY s_name
    """,
    "tpch_q21": """
        WITH late AS (
            SELECT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM late l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
}
