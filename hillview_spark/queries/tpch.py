"""TPC-H-shaped analytical benchmark queries over the synthetic star
schema. These anchor the report benchmark (perfbench/) and exercise
the join/agg machinery at scale.

Scale notes (100 TB): every query filters the fact table *before*
joining (predicate pushdown to the parquet scan), joins dimensions
via broadcast (no fact-table shuffle for dims), and aggregates with
map-side partial combine.

Determinism note: money columns are exact 2-decimal values stored as
double; we cast to DECIMAL before summing so aggregates are exact
and order-independent — bit-identical across engines (and across
cluster re-runs), then surfaced as rounded doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast


# Per-column decimal widths, sized from the TPC-H value domains
# (TPC-H spec §4.2.3: quantity in [1,50], discount in [0,0.10], tax in
# [0,0.08], extendedprice = quantity * part price < 10^6). Narrow
# per-row operands keep Spark's Decimal on its compact-long fast path
# through the hot multiply chain (disc_price lands at decimal(15,4))
# instead of 128-bit JavaBigDecimal — measured 0.70s -> 0.55s on q1
# at sf0.1 with bit-identical results. Scale safety: SUM widens its
# accumulator by +10 integer digits, so money sums accumulate in
# decimal(19,2) = 10^17 capacity — at 100 TB (~SF 10^5, 6x10^11
# lineitem rows) a per-group extendedprice sum reaches ~6x10^15,
# leaving >10x headroom; quantity sums reach ~4x10^12 against
# decimal(16,2) = 10^14. Values outside the spec domain FAIL LOUDLY:
# ANSI mode (Spark 4 default) raises NUMERIC_VALUE_OUT_OF_RANGE on a
# narrowing cast instead of nulling, and the casts never round at
# scale 2 (the data is 2-decimal) — so a domain violation can never
# silently corrupt a sum.
_DEC_WIDTHS = {
    "l_extendedprice": (9, 2),
    "l_discount": (4, 2),
    "l_tax": (4, 2),
    "l_quantity": (6, 2),
    "p_retailprice": (7, 2),   # < 2,100
    "c_acctbal": (7, 2),       # in [-999.99, 9,999.99]
    "o_totalprice": (9, 2),    # < 600,000
}


def _dec(col: str, scale: int = 2) -> Column:
    p, s = _DEC_WIDTHS.get(col, (18, scale))
    return F.col(col).cast(f"decimal({p},{s})")


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """Pricing summary report: group the filtered fact table by the
    two flag columns; sums/averages in exact decimal. Single scan,
    map-side combine, O(|groups|) shuffle."""
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    n = F.count(F.lit(1))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / n, 4).alias(
                "avg_price"
            ),
            F.round(F.sum(_dec("l_discount")).cast("double") / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Top-10 orders by revenue for one market segment that are NOT
    fully shipped as of the cutoff date (orders placed before D,
    line items shipped after D — one shared D, per TPC-H Q3).
    customer is broadcast; orders⋈lineitem is the only shuffle. The
    final ORDER BY+LIMIT is TakeOrderedAndProject (no global sort)."""
    cust = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ord_f = orders.where(F.col("o_orderdate") < F.lit("1998-03-15")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.where(F.col("l_shipdate") > F.lit("1998-03-15")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(
            ord_f.join(broadcast(cust), ord_f.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_local_supplier(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue by nation where customer and supplier share a nation.
    All dimensions broadcast; lineitem shuffles once (to orders)."""
    r = region.where(F.col("r_name") == "ASIA")
    n = nation.join(broadcast(r), nation.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c = customer.join(
        broadcast(n.select(F.col("n_nationkey").alias("c_nk"))),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey", "c_nationkey")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    s = supplier.select("s_suppkey", "s_nationkey")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q6_revenue_forecast(lineitem: DataFrame) -> DataFrame:
    """Pure filter+sum over the fact table — the pushdown showcase.
    All predicates reach the parquet scan."""
    return lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue")
    )


def q4_late_orders(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-priority checking (q4 shape on the reduced schema):
    orders with at least one line item shipped after the order date,
    counted per priority. LEFT SEMI join — the EXISTS never
    materializes matching line items, and Spark builds the hash side
    from the pre-projected two columns only."""
    li = lineitem.select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q10_returned_items(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Returned-item reporting: top-20 customers by revenue of
    returned ('R') line items. Fact-fact join shuffles once on the
    order key; customer broadcasts; TakeOrderedAndProject top-k."""
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    li = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast(customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Promotion revenue share for one month: conditional decimal
    aggregate over the part-joined facts (part broadcasts), ratio in
    a fixed double op order so engines agree bit-for-bit."""
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    joined = li.join(
        broadcast(part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    promo = F.sum(
        F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    )
    total = F.sum(revenue)
    return joined.agg(
        F.round(
            promo.cast("double") * 100.0 / total.cast("double"), 4
        ).alias("promo_revenue_pct")
    )


def q7_volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """Volume shipping between two nations, by (supplier nation,
    customer nation, year). Both nation-tagged dimension sides
    broadcast onto the fact scan; the only shuffle is
    lineitem⋈orders and the final tiny group."""
    n2 = nation.where(F.col("n_name").isin(nation_a, nation_b))
    s = supplier.join(
        broadcast(n2.select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    c = customer.join(
        broadcast(n2.select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey", "cust_nation")
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q15_top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """Top supplier by quarterly revenue: per-supplier decimal sums,
    then an equality join against the broadcast scalar max — exact
    (decimal) so the max-match is deterministic across engines."""
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    # rev feeds two consumers (scalar max + equality join), so the
    # quarter's fact scan runs twice. A persist of the aggregate was
    # MEASURED SLOWER at bench scale (r15: 0.50 s vs 0.41 s
    # interleaved; re-measured r16: 0.433 vs 0.407 medians of 9 —
    # materialization + cache bookkeeping cost more than the
    # page-cached rescan saves) and only NEUTRAL on a 10x lineitem
    # replica (OPTIMIZATION_r16.md: 0.272 vs 0.283 medians
    # of 7), so the rescan ships. At 100 TB with cold storage the
    # trade flips — the persist variant is the probe's persisted()
    # factory, one pushdown-pruned quarter scan instead of two.
    rev = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("total_rev"))
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(broadcast(max_rev), rev.total_rev == max_rev.max_rev)
        .join(broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.col("total_rev").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


def q18_large_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
    min_qty: int = 180,
) -> DataFrame:
    """Large-volume customers: orders whose line items sum past a
    quantity threshold. The HAVING runs on the fact-side aggregate
    BEFORE the join back (tiny hash side), customer broadcasts, and
    the top-100 is TakeOrderedAndProject."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .where(F.col("sum_qty") > min_qty)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(broadcast(customer.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", F.col("sum_qty").cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def q19_discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """OR-of-ANDs predicate revenue (q19 shape on the reduced
    schema): part broadcasts, and the disjunction stays a single
    codegen'd filter on the joined stream — no union-of-scans."""
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount").join(
        broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#6") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.where(cond).agg(F.sum(revenue).cast("double").alias("revenue"))


def q22_sales_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers with above-average balances and no recent orders
    (q22 shape; "recent" because every synthetic customer has some
    order): the scalar average broadcasts (exact decimal sum /
    count, one double division), the recency check is a LEFT ANTI
    join whose date filter pushes to the orders scan, and the
    per-nation rollup is a tiny group."""
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double")
         / F.count(F.lit(1))).alias("avg_bal")
    )
    rich = (
        customer.crossJoin(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    ).select("o_custkey")
    no_orders = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    region_name: str = "EUROPE",
    p_type: str = "STANDARD",
) -> DataFrame:
    """Minimum-cost supplier (q2 shape on the reduced schema: no
    partsupp table, so lineitem plays the part-supplier price list
    and min(l_extendedprice) plays ps_supplycost). The correlated
    MIN subquery is decorrelated into a per-part aggregate joined
    back on (partkey, price == min) — the standard Spark plan; all
    dimension sides broadcast, so the only shuffle is the per-part
    min over the filtered fact scan."""
    parts = part.where(
        (F.col("p_type") == p_type) & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_type")
    sups = (
        supplier.join(
            broadcast(
                nation.join(
                    broadcast(region.where(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(sups), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_type", "s_suppkey", "s_name", "s_acctbal",
                "n_name", _dec("l_extendedprice").alias("cost"))
    )
    # Window-min instead of aggregate + join-back (r15 opt): the
    # decorrelated shape scanned the filtered fact table TWICE (once
    # per side of a sort-merge self-join on (partkey, cost)); the
    # window computes the per-part min on the SAME pass — one scan,
    # one exchange on partkey, identical rows (the join-back kept
    # every offer matching the min; so does the filter).
    from pyspark.sql import Window

    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_cost", F.min("cost").over(w))
        .where(F.col("cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
                F.col("min_cost").cast("double").alias("min_cost"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_2",
    market_region: str = "AMERICA",
    p_type: str = "ECONOMY",
) -> DataFrame:
    """National market share (q8): the target nation's slice of
    revenue from one part type sold to one region's customers, by
    order year. Every dimension broadcasts onto the lineitem scan;
    the conditional share is a decimal CASE-sum and the final
    division is a single double op (bit-identical cross-engine)."""
    cust_in_region = customer.join(
        broadcast(
            nation.join(
                broadcast(region.where(F.col("r_name") == market_region)),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select(F.col("n_nationkey").alias("cn_key"))
        ),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey")
    supp_nation = supplier.join(
        broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    zero = F.expr("CAST(0 AS DECIMAL(18,2))")
    joined = (
        lineitem.join(
            broadcast(part.where(F.col("p_type") == p_type)
                      .select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust_in_region),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(supp_nation),
              F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == target_nation, revenue)
                  .otherwise(zero)).alias("target_rev"),
            F.sum(revenue).alias("total_rev"),
        )
        .select(
            "o_year",
            F.round(F.col("target_rev").cast("double")
                    / F.col("total_rev").cast("double"), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q9_product_type_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_prefix: str = "small",
) -> DataFrame:
    """Product-type profit (q9 shape; ps_supplycost is surrogated as
    60% of p_retailprice since the reduced schema has no partsupp).
    profit = revenue − cost·qty in exact decimal (operands sized so
    every product stays under the 38-digit cap), grouped by supplier
    nation × order year. part/supplier/nation broadcast; the only
    fact shuffle is lineitem⋈orders."""
    d12 = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    cost_unit = (d12("p_retailprice")
                 * F.expr("CAST(0.6 AS DECIMAL(2,1))"))  # (15,3) exact
    parts = part.where(F.col("p_name").startswith(name_prefix)).select(
        "p_partkey", cost_unit.alias("cost_unit")
    )
    sup_n = supplier.join(
        broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "nation")
    amount = (d12("l_extendedprice") * (F.lit(1) - d12("l_discount"))
              - F.col("cost_unit") * d12("l_quantity"))
    return (
        lineitem.join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(sup_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_parts(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_3",
    fraction: float = 0.001,
) -> DataFrame:
    """Important-stock parts (q11 shape; part value is measured as
    lineitem revenue through one nation's suppliers instead of
    partsupp stock value). The global-total scalar subquery
    broadcasts; the HAVING compares exact-decimal group sums cast to
    double against total·fraction (one multiply — deterministic)."""
    sups = supplier.join(
        broadcast(nation.where(F.col("n_name") == nation_name)
                  .select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    base = lineitem.join(broadcast(sups),
                         F.col("l_suppkey") == F.col("s_suppkey"))
    per_part = base.groupBy("l_partkey").agg(
        F.sum(revenue).alias("value_dec")
    )
    total = per_part.agg(
        F.sum("value_dec").cast("double").alias("total_value")
    )
    return (
        per_part.crossJoin(broadcast(total))
        .where(F.col("value_dec").cast("double")
               > F.col("total_value") * F.lit(fraction))
        .select("l_partkey",
                F.col("value_dec").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q12_shipmode_priority(
    orders: DataFrame, lineitem: DataFrame, late_days: int = 60
) -> DataFrame:
    """Shipping-delay priority matrix (q12 shape; the reduced schema
    has no l_shipmode/commitdate/receiptdate, so the mode axis is
    l_returnflag and "late" means shipped > late_days after the
    order date). One fact⋈fact join, conditional decimal-free
    CASE-count aggregation, tiny result."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .where(late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q13_customer_order_distribution(
    customer: DataFrame, orders: DataFrame,
    exclude_priority: str = "1-URGENT",
) -> DataFrame:
    """Customer order-count distribution (q13): LEFT OUTER join so
    zero-order customers survive, two-level aggregation (orders per
    customer, then customers per order-count). The first groupBy
    shuffles on c_custkey; the second is O(|distinct counts|)."""
    kept = orders.where(F.col("o_orderpriority") != exclude_priority).select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(kept, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q16_supplier_part_counts(
    part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
    exclude_brand: str = "Brand#11",
) -> DataFrame:
    """Supplier counts per part attribute (q16 shape; the
    part-supplier relation comes from lineitem instead of partsupp,
    and the NOT IN complaint-supplier subquery becomes an anti-join
    on negative account balance). The (l_partkey, l_suppkey) LONG
    pairs deduplicate BEFORE the part attrs attach (r15 opt): the
    heavy exchange carries 16-byte keys instead of the
    brand/type/size strings, and the string-keyed COUNT(DISTINCT)
    aggregate runs over the ~7x-smaller distinct-pair relation
    (lineitem repeats each part-supplier pair once per order) —
    measured 0.89 s vs 1.02 s at sf0.1 with identical rows."""
    bad_sups = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(broadcast(bad_sups.withColumnRenamed("s_suppkey", "bad_key")),
              F.col("l_suppkey") == F.col("bad_key"), "left_anti")
        .distinct()
        .join(broadcast(
            part.where(F.col("p_brand") != exclude_brand)
            .select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#13"
) -> DataFrame:
    """Small-quantity-order revenue (q17): the correlated per-part
    AVG subquery is a per-part WINDOW on the same scan (r15 opt —
    the decorrelated aggregate+join-back shape scanned the fact
    table twice); threshold 0.2·avg is one double multiply of an
    exact decimal-sum average, so the comparison is bit-identical
    cross-engine. Final sum/7 is a single double division."""
    from pyspark.sql import Window

    bparts = part.where(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.select("l_partkey", "l_quantity", "l_extendedprice").join(
        broadcast(bparts), F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(_dec("l_quantity")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        li.withColumn("avg_qty", avg_qty)
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0))
             .alias("avg_yearly"))
    )


def q20_part_promotion(
    supplier: DataFrame, lineitem: DataFrame, part: DataFrame,
    name_prefix: str = "small", year: str = "1996",
    fraction: float = 0.3,
) -> DataFrame:
    """Excess-supply suppliers (q20 shape; availqty is surrogated by
    the part's total shipped quantity, so the filter keeps suppliers
    who shipped > fraction of a prefix-named part's yearly volume).
    Two-level aggregate on the same filtered scan, then a semi-join
    into supplier — no row ever leaves the cluster."""
    parts = part.where(F.col("p_name").startswith(name_prefix)).select(
        "p_partkey"
    )
    li = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01"))
            & (F.col("l_shipdate") < F.lit(f"{int(year) + 1}-01-01"))
        )
        .join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    per_sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("supp_qty")
    )
    # per-part total as a WINDOW over the pair aggregate (r15 opt):
    # the former groupBy + broadcast join-back re-ran the whole
    # filtered fact scan for the second consumer; the window reuses
    # the pair rows on one extra (small) exchange instead
    from pyspark.sql import Window

    part_qty = (
        F.sum(F.col("supp_qty").cast("decimal(28,2)"))
        .over(Window.partitionBy("l_partkey"))
        .cast("double")
    )
    heavy = (
        per_sp.withColumn("part_qty", part_qty)
        .where(F.col("supp_qty") > F.col("part_qty") * F.lit(fraction))
        .select("l_suppkey")
    )
    return (
        supplier.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"),
                      "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q21_suppliers_kept_waiting(
    supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
    late_days: int = 60,
) -> DataFrame:
    """Suppliers who alone held up multi-supplier orders (q21 shape;
    "late" = shipped > late_days past the order date since the
    reduced schema has no receipt/commit dates). The classic
    EXISTS / NOT EXISTS double self-join is re-expressed as ONE
    per-order aggregate — distinct-supplier and distinct-late-
    supplier counts — which is the shape that survives 100 TB (a
    single shuffle on orderkey instead of two fact-fact joins)."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    li = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders.where(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
    )
    # Two-level distinct (r15 opt): the natural twin countDistinct
    # plans an Expand that TRIPLES every joined row (one replica per
    # distinct spec + one for the min) before the first exchange.
    # Aggregating per (order, supplier) first, then per order, keeps
    # the same two exchanges but ships each row once — and the pair
    # level is exactly the distinct set both counts need.
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(F.when(F.col("supp_late"), F.lit(1))).alias("n_late"),
        F.min(F.when(F.col("supp_late"), F.col("l_suppkey")))
        .alias("late_supp"),
    )
    blamed = per_order.where(
        (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    ).groupBy("late_supp").agg(F.count(F.lit(1)).alias("numwait"))
    return (
        blamed.join(broadcast(supplier.select("s_suppkey", "s_name")),
                    F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
