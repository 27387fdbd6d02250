"""TPC-H-shaped relational breadth, batch 2 (E24 extension).

The reference has no relational queries at all (it is a fixed
parquet→CSV/SQLite dataflow, `/root/reference/main.js:140-226`); this
module keeps widening the north-star relational tier over the
TPC-H-ish star schema (`region nation customer supplier part orders
lineitem`). The testdata schema lacks `partsupp`, `l_shipmode`,
`l_commitdate`/`l_receiptdate`, `c_phone` and `p_container`; batch 3
recovers Q2/Q9/Q11/Q20 by SYNTHESIZING partsupp deterministically from
part (:func:`synth_partsupp` — both engines derive the identical
relation, so the gate stays full-strength). Q12/Q16/Q19/Q21/Q22 are
shape-preserving adaptations (same join/subquery/decorrelation
structure, predicates rewritten onto existing columns — Q12 lacks
``l_shipmode``, Q16 lacks ``s_comment``) — each docstring states the
divergence. With them the full 22-query TPC-H plan-shape suite is
covered.

Scale notes applied throughout:

- explicit ``broadcast()`` only on genuinely bounded sides (nation,
  region, single-row scalar aggregates); supplier/customer/part joins
  are left to AQE, which broadcasts at runtime when the filtered side
  fits — at 100 TB those sides are NOT bounded and a hard hint would
  be the q17-style unbounded-broadcast defect;
- money/ratio outputs go through ``functions.stable`` integer-unit
  arithmetic so the hash gate is engine- and summation-order-proof;
  ratios are computed with integer ``div`` (headroom documented in
  :func:`parquet_to_csv_spark.functions.stable.stable_sum_2dp`);
- correlated EXISTS/NOT-EXISTS shapes (Q21/Q22) are decorrelated into
  aggregations + joins on the Spark side while the DuckDB oracle keeps
  the literal correlated-subquery form — the parity check then proves
  the decorrelation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from parquet_to_csv_spark.functions.stable import exact_units, stable_sum_2dp
from parquet_to_csv_spark.sources.tables import load_table


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single filtered scan → one global sum, no joins.

    The whole query is a parquet scan with every predicate pushed down
    (shipdate range + discount band + quantity cap) and a one-row
    partial-then-final aggregate — the cheapest possible plan shape.
    ``l_extendedprice * l_discount`` is an exact 4-decimal rational, so
    the sum goes through exact integer units.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(stable_sum_2dp(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between a nation pair, by direction
    and year.

    Join graph: lineitem→supplier→n1, lineitem→orders→customer→n2,
    with the (n1, n2) ∈ {(A,B), (B,A)} disjunction applied after both
    nation names are attached. Only `nation` (25 rows) is broadcast;
    the supplier/customer joins shuffle on their keys (AQE may still
    broadcast the nation-filtered slices at runtime when they fit).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(supp.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(stable_sum_2dp(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: a nation's market share of PROMO-part revenue among
    orders from customers of one region, per year.

    The share is a ratio of two revenue sums — both carried as exact
    integer 4-decimal units, with the division done in integer ``div``
    arithmetic (6-decimal truncation), so numerator/denominator order
    effects cannot flip the hash. Only region/nation are broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    c_nat = F.broadcast(
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("c_nk"))
    )
    s_nat = F.broadcast(
        nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    units = exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    vol = (
        li.join(part.filter(F.col("p_type") == "PROMO").select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(c_nat, F.col("c_nationkey") == F.col("c_nk"))
        .join(supp.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(s_nat, F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            units.alias("u"),
            F.when(F.col("supp_nation") == "NATION_3", units).otherwise(F.lit(0)).alias("nu"),
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(F.sum("u").alias("den"), F.sum("nu").alias("num"))
        .select(
            "o_year",
            (F.expr("num * 1000000L div den") / F.lit(1e6)).alias("mkt_share"),
            (F.col("den") / F.lit(1e4)).alias("total_revenue"),
        )
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution.

    Left join customer→(non-urgent orders), count per customer, then a
    second aggregation over the counts. All-integer outputs — nothing
    to stabilize. Two exchanges (custkey, then c_count) is the minimal
    shape; the first agg is decomposed map-side.

    Divergence from spec: the spec excludes orders by an
    ``o_comment NOT LIKE`` pattern (no such column here) — we exclude
    ``o_orderpriority = '1-URGENT'`` instead; identical plan shape.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts.

    Single lineitem×part equi-join (AQE chooses the strategy; part is
    projected to 2 columns so a runtime broadcast is likely at small
    SF but not forced), conditional sum over exact integer units, and
    an integer-div percentage — one output row, fully engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    units = exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            units.alias("u"),
            F.when(F.col("p_type") == "PROMO", units).otherwise(F.lit(0)).alias("pu"),
        )
    )
    return j.agg(F.sum("pu").alias("num"), F.sum("u").alias("den")).select(
        (F.expr("num * 1000000L div den") / F.lit(1e4)).alias("promo_revenue_pct")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum revenue in a quarter.

    The per-supplier revenue relation is aggregated once (integer
    units), its global max is a one-row aggregate broadcast back as a
    join — never an unpartitioned window, which would funnel every
    supplier row through a single task at scale. Ties all surface
    (spec semantics: ``total_revenue = (SELECT max(...))``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(exact_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)).alias("rev_units"))
    )
    mx = F.broadcast(rev.agg(F.max("rev_units").alias("max_units")))
    return (
        rev.join(mx, rev.rev_units == mx.max_units)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            (F.col("rev_units") / F.lit(1e4)).alias("total_revenue"),
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted): revenue under an OR-of-ANDs predicate over
    part attributes × line quantity bands.

    Spec uses brand+container+quantity triples; the testdata has no
    ``p_container`` so the three disjuncts pair brand with ``p_size``
    bands instead — same structure: an equi-join on partkey whose
    residual is a 3-way disjunction, which Catalyst keeps as a single
    join with a pushed composite filter (no union-of-three-scans
    blowup). Revenue via exact integer units.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    disj = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(disj).agg(
        stable_sum_2dp(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q21 (adapted): per supplier, count its lineitems that
    shipped last in a multi-supplier order.

    Spec semantics (receipt>commit lateness) need columns the testdata
    lacks; the adaptation keeps the EXISTS(other supplier in order) ∧
    NOT EXISTS(other supplier shipped later) correlated structure. The
    Spark plan decorrelates it into aggregations: per (order, supplier)
    max ship date and the number of its lineitems shipped on that date,
    per order the global max and supplier count — a supplier qualifies
    iff it attains the order max and the order has ≥2 suppliers, and
    contributes its lineitems at the max. The DuckDB oracle keeps the
    literal EXISTS/NOT EXISTS form, so the parity check proves the
    decorrelation. Top-k via TakeOrderedAndProject (deterministic
    tiebreak on name).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_os = (
        li.groupBy("l_orderkey", "l_suppkey", "l_shipdate")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max("l_shipdate").alias("s_max"),
            F.max_by("n_lines", "l_shipdate").alias("n_at_max"),
        )
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.max("s_max").alias("o_max"), F.count(F.lit(1)).alias("n_supp")
    )
    blamed = (
        per_os.join(per_o, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("s_max") == F.col("o_max")))
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.sum("n_at_max").alias("numwait"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted): rich-but-inactive customers by country code.

    Spec derives the code from ``substring(c_phone, 1, 2)`` (no phone
    column here) — adapted to ``c_custkey % 10`` over an IN-list, which
    preserves the structure exactly: scalar AVG subquery → one-row
    broadcast, anti-join against orders, final small groupBy. The
    "above average balance" comparison is done in pure integers —
    ``acctbal_cents × n > sum_cents`` instead of a float division —
    so there is no rounding boundary at all.

    Spec's "no orders in 7 years" becomes "no orders on/after
    2000-01-01" (every testdata customer has *some* order, so the
    unfiltered anti-join would be vacuously empty); the anti-join's
    date filter is pushed into the orders scan.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        exact_units(F.col("c_acctbal"), 2).alias("bal_cents"),
        (F.col("c_custkey") % 10).alias("cntrycode"),
    ).filter(F.col("cntrycode").isin(1, 3, 5, 7, 9))
    avg1 = F.broadcast(
        cust.filter(F.col("bal_cents") > 0).agg(
            F.sum("bal_cents").alias("sum_cents"), F.count(F.lit(1)).alias("n_pos")
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    rich = cust.crossJoin(avg1).filter(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents")
    )
    inactive = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return inactive.groupBy("cntrycode").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum("bal_cents") / F.lit(100.0)).alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Batch 3: Q2/Q9/Q11/Q20 over a SYNTHESIZED partsupp (the testdata has
# no partsupp table; the relation is derived deterministically from
# part — 4 suppliers per part, exact-2dp supply costs, integer
# availqty — so both engines build the identical relation and the full
# TPC-H join shapes become expressible with full-strength oracles).
# ---------------------------------------------------------------------------


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: ps_suppkey = (p_partkey + i·25) % 100
    for i ∈ 0..3 (valid supplier keys at every SF), ps_supplycost an
    exact 2-decimal rational, ps_availqty a bounded integer. Dim-sized
    (4×|part|), so it broadcasts wherever part does."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    i = F.col("i")
    return part.select(
        F.col("p_partkey").alias("ps_partkey"),
        F.explode(F.array(*[F.lit(x) for x in range(4)])).alias("i"),
    ).select(
        "ps_partkey",
        ((F.col("ps_partkey") + i * 25) % 100).alias("ps_suppkey"),
        (
            (F.lit(90000) + (F.col("ps_partkey") % 100) * 10 + i * 25) / F.lit(100.0)
        ).alias("ps_supplycost"),
        (F.lit(1) + (F.col("ps_partkey") * 4 + i) % 9999).alias("ps_availqty"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part in a region —
    the correlated MIN subquery, decorrelated into a per-part window
    MIN + filter (round 10, verdict item 4: the former agg + self-join
    resolved only via plan-id lineage, logging "trivially true equals
    predicate" warnings, and paid TWO exchanges — one for the partial
    agg, one to shuffle eu_ps back for the join; the window computes
    the same min-per-partkey and keeps every tying row in ONE exchange
    on ps_partkey). EUROPE suppliers, SMALL parts; top-k by
    (acctbal desc, name, partkey) via TakeOrderedAndProject.

    partsupp/supplier/nation/region are all dim-sized here; at 100 TB
    partsupp is fact-sized and the single ps_partkey exchange is
    exactly the shuffle the decorrelated MIN needs — no second pass."""
    ps = synth_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    eu_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_ps = ps.join(eu_supp, ps.ps_suppkey == eu_supp.s_suppkey)
    w = Window.partitionBy("ps_partkey")
    return (
        eu_ps.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .drop("min_cost")
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round("ps_supplycost", 2).alias("ps_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(k)
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by nation and order year for 'red' parts —
    the widest join in the suite (lineitem ⋈ part ⋈ partsupp ⋈
    supplier ⋈ nation ⋈ orders).

    amount = l_extendedprice·(1−l_discount) − ps_supplycost·l_quantity:
    a 4-decimal rational minus a 2-decimal rational (quantities are
    integral) — summed as exact integer units (stable contract).
    Filtered part (and the part-derived partsupp) broadcast; lineitem
    shuffles once on orderkey for the orders join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    ps = synth_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(ps),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(stable_sum_2dp(amount, 4).alias("sum_profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: stock value per part for one nation's suppliers,
    kept when above a fraction of the nation's total — the scalar-
    subquery-threshold shape (same broadcast-scalar decorrelation as
    Q22). value = ps_supplycost·ps_availqty is 2dp × int — exact units.
    """
    ps = synth_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    val = F.col("ps_supplycost") * F.col("ps_availqty")
    nat_ps = ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey).select(
        "ps_partkey", exact_units(val, 2).alias("v_cents")
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(
        F.sum("v_cents").alias("part_cents")
    )
    total = nat_ps.agg(F.sum("v_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total))
        # integer-exact threshold: part > total/10000 ⟺ part·10000 > total
        .filter(F.col("part_cents") * 10000 > F.col("total_cents"))
        .select(
            "ps_partkey",
            (F.col("part_cents") / F.lit(100.0)).alias("stock_value"),
        )
    )


def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers of 'red' parts whose available stock
    exceeds half of what they actually shipped in 1997 — the
    double-nested IN/scalar shape, decorrelated into a (part, supp)
    shipped-quantity aggregate joined against partsupp, then a semi
    join up to supplier. Quantities are integral, so the half-of-sum
    comparison runs on integers (2·availqty > sum_qty)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    ps = synth_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    excess = ps.join(
        shipped,
        (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
    ).filter(F.lit(2) * F.col("ps_availqty") > F.col("qty"))
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            excess.select("ps_suppkey").distinct(),
            supp.s_suppkey == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


def q12_shipping_priority_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted): order-priority mix per shipment category.

    Spec counts high/low-priority orders per ``l_shipmode`` for lines
    received within a year whose commit date slipped
    (``l_commitdate < l_receiptdate``). The testdata has none of those
    three columns; the adaptation keeps the exact plan shape — a
    lineitem scan whose every predicate pushes down (category IN-list +
    ship-date year), one equi-join to orders purely to read the
    priority, and a tiny conditional-count aggregate — with
    ``l_returnflag IN ('R','A')`` standing in for the two ship modes
    and the 1997 ship year for the receipt-year window.

    All-integer outputs, so nothing to stabilize. One shuffle
    (orderkey join; AQE may broadcast the filtered line side at small
    SF) + one final small exchange.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isin("R", "A")
            & (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted): distinct supplier count per (brand, type,
    size) for qualifying parts, excluding black-listed suppliers.

    Spec excludes suppliers whose ``s_comment`` matches a complaints
    pattern via NOT IN; no comment column here, so negative account
    balance is the complaint surrogate — the structure (anti-join of
    the partsupp relation against a filtered supplier set, then a
    COUNT DISTINCT over three grouping columns) is identical. Part
    predicates (brand <>, type NOT LIKE, size IN 8-list) all push into
    the part scan.

    partsupp is dim-sized here (4×|part|) so AQE broadcasts the joins;
    at 100 TB partsupp is fact-sized and the plan degrades to one
    partkey shuffle + one (brand,type,size) exchange — COUNT DISTINCT
    runs as a two-phase partial-distinct aggregate, never a global
    collect.
    """
    ps = synth_partsupp(spark, sf_dir)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").like("PROMO%")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 34, 44)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complained = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(complained, ps.ps_suppkey == complained.s_suppkey, "left_anti")
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )
