"""Declared query library — SURVEY.md §2.D Q1–Q25, Spark-first.

Every query is a function ``(spark, sf_dir) -> DataFrame`` built with the
DataFrame API (Catalyst plans everything: pushdown, pruning, join strategy),
falling back to ``spark.sql`` only where SQL is the clearer spelling
(GROUPING SETS). Column names are aliased to match the DuckDB oracle in
``oracle.py`` exactly (the driver sorts columns by name before hashing).

Determinism contract (SURVEY.md §2.D): total ORDER BY on a unique key,
money aggregates computed in exact DECIMAL internally but emitted as DOUBLE
(or BIGINT cents) — DECIMAL output columns are rendered differently by the
two engines' hashers and can never hash-match, while the double nearest to
the same exact decimal value is bit-identical on both sides. Integer-ish
outputs cast to BIGINT; explicit NULLS LAST where defaults differ.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def query(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco


DEC = "decimal(18,2)"

# Exact-decimal money arithmetic (hash-determinism contract): source money
# columns are 2-decimal doubles, so casting to decimal is unambiguous in
# both engines; decimal addition is associative, so SUM no longer depends
# on accumulation order; the final ROUND(decimal, 2) is HALF_UP in BOTH
# Spark and DuckDB (verified empirically — only the decimal→decimal CAST
# differs, DuckDB's is HALF_EVEN, so never rely on a narrowing cast to
# round).


def _dec(col: str, typ: str = "decimal(18,4)"):
    return F.col(col).cast(typ)


def _cents100(col: str):
    """Exact integer hundredths of a 2-decimal money/rate double, as
    BIGINT: ``v*100`` lands within ~1e-8 of an integer for any 2-decimal
    double (v = k/100 carries ≤ 2⁻⁵³ relative error), so nearest-integer
    rounding recovers k exactly — the fixed-point twin of the decimal
    cast (same rational value, long arithmetic instead of
    java.math.BigDecimal per row).

    RINT, not ROUND: Spark's ROUND on a double goes through
    ``BigDecimal.valueOf(d).setScale(0, HALF_UP)`` — an allocation per
    row, the very cost this helper exists to remove — while RINT is a
    bare ``Math.rint`` (measured 2× on the quantity sum, 2.4× on the
    revenue product at sf0.1). The HALF_UP/half-even tie difference is
    unreachable: ties need a fractional part of exactly .5, and v*100
    sits within 1e-8 of an integer (corpus-wide equality asserted in
    tests/test_fixed_point.py)."""
    return F.expr(f"CAST(RINT({col} * 100) AS BIGINT)")


def _fixed_money(sum_fixed, frac_digits: int, round2: bool = True):
    """Exact fixed-point SUM (units of 10^-frac_digits dollars) → DOUBLE
    with the decimal contract's single rounding: the bigint sum is lifted
    to DECIMAL and divided by 10^frac_digits (quotient scale ≥ the value's
    true fractional digits, so the division is EXACT), optionally
    ROUND(·, 2) HALF_UP (sign-correct), then one decimal→double cast —
    bit-identical to summing the equivalent decimal products directly
    (verified row-identical on the declared corpus, commit 83cf290).
    DECIMAL(32,0) holds 1e32 fixed-point units — overflow-safe past any
    100 TB corpus where a bare BIGINT accumulator (9.2e18) would not be."""
    q = sum_fixed.cast("decimal(32,0)") / (10 ** frac_digits)
    if round2:
        q = F.round(q, 2)
    return q.cast("double")


def _revenue_dec():
    """SUM(l_extendedprice * (1 - l_discount)), exact, rounded HALF_UP to
    2 places — bit-identical across engines regardless of
    partial-aggregation order.  Spelled in bigint-cents fixed point: the
    decimal(18,4) product form types as decimal(37,8), which is
    java.math.BigDecimal-backed on EVERY row (measured 2.7 s vs 0.8 s for
    the identical exact arithmetic on the sf0.1 lineitem scan, guide §1.2
    'per-task work') — the per-row product stays in long (≤ 5e8·100 per
    row), only the accumulator is decimal (exact to 1e30, far past any
    100 TB group).  The final cast to DOUBLE: both engines convert the
    identical exact decimal to its nearest double — bit-equal; a DECIMAL
    output type never hash-matches the driver's oracle hasher."""
    prod = (_cents100("l_extendedprice") * (100 - _cents100("l_discount"))).cast(
        "decimal(20,0)"
    )
    return _fixed_money(F.sum(prod), 4)


@query("q1_scan_filter_sort")
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + projection + filter + sort/limit. Filter and the 3-column
    projection push down to the parquet scan (PushedFilters/ReadSchema)."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.where(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        # (l_orderkey, l_linenumber) is NOT unique in the corpus — include
        # l_quantity so the sort is total and the LIMIT boundary is stable
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(100)
    )


@query("q2_predicates")
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.where(
            F.col("o_totalprice").between(1000, 2000)
            & F.col("o_orderstatus").isin("O", "F")
            & F.col("o_orderpriority").like("1%")
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@query("q3_hash_agg_having")
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with partial (map-side) combine — one shuffle on the
    two grouping keys, HAVING applied post-agg."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _fixed_money(
                F.sum(_cents100("l_quantity").cast("decimal(20,0)")), 2, round2=False
            ).alias("sum_qty"),
            _revenue_dec().alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .where(F.col("cnt") > 10)
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("q4_multiway_join")
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join. nation is explicitly broadcast (tiny dim); the
    customer⋈orders⋈lineitem chain shuffles on the join keys and AQE picks
    broadcast for any side under the threshold."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(_revenue_dec().alias("revenue"))
        .orderBy("n_name")
    )


@query("q5_left_join")
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
        .orderBy(F.desc("order_cnt"), "c_custkey")
        .limit(100)
    )


@query("q6_semi_join")
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    big_orders = t.orders.where(F.col("o_totalprice") > 5000)
    return (
        t.customer.join(big_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query("q7_anti_join")
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query("q8_theta_join")
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on partkey with a residual range predicate — Catalyst plans
    the equi part as the join key and evaluates the theta part as a join
    filter, so this stays a hash/sort-merge join, not a cartesian."""
    t = Tables(spark, sf_dir)
    return (
        t.part.join(
            t.lineitem,
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_extendedprice") > F.col("p_retailprice") * 1.5),
        )
        .select("p_partkey", "l_orderkey")
        .orderBy("p_partkey", "l_orderkey")
        .limit(100)
    )


@query("q9_scalar_subquery")
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery = 1-row aggregate broadcast-joined (no driver collect)."""
    t = Tables(spark, sf_dir)
    avg_price = t.orders.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        t.orders.join(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > F.col("_avg"))
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query("q10_ranking_window")
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER ranking — the CDC dedup primitive (operator B8)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        t.events.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
        .orderBy("user_id", "rn")
    )


@query("q11_window_frame")
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return (
        # bigint-cents fixed point (§_fixed_money): the sliding-frame sum
        # adds/retracts a LONG per row instead of a per-row double→decimal
        # cast (BigDecimal.setScale allocation); /100 is exact decimal
        t.events.withColumn(
            "mov_sum", _fixed_money(F.sum(_cents100("value")).over(w), 2, round2=False)
        )
        .select("event_id", "user_id", "mov_sum")
        .orderBy("user_id", "event_id")
        .limit(500)
    )


@query("q12_lag_lead")
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t.events.withColumn("prev_type", F.lag("event_type").over(w))
        .select("event_id", "user_id", "prev_type")
        .orderBy("user_id", "event_id")
        .limit(500)
    )


@query("q13_rollup")
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.asc_nulls_last("l_returnflag"), F.asc_nulls_last("l_linestatus"))
    )


@query("q14_grouping_sets")
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    t.view("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
        """
    )


@query("q15_distinct_agg")
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.lineitem.agg(
        F.countDistinct("l_partkey").alias("dpart"),
        F.countDistinct("l_suppkey").alias("dsupp"),
    )


@query("q16a_intersect")
def q16a(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.select(F.col("c_nationkey").alias("k"))
        .intersect(t.supplier.select(F.col("s_nationkey").alias("k")))
        .orderBy("k")
    )


@query("q16b_except")
def q16b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.select(F.col("c_nationkey").alias("k"))
        .subtract(t.supplier.select(F.col("s_nationkey").alias("k")))
        .orderBy("k")
    )


@query("q16c_union_all")
def q16c(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.select(F.col("c_custkey").alias("k"))
        .unionAll(t.orders.select(F.col("o_custkey").alias("k")))
        .orderBy("k")
        .limit(100)
    )


@query("q17_string_funcs")
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.part.select(
            "p_partkey",
            F.upper("p_brand").alias("b"),
            F.substring("p_name", 1, 5).alias("pfx"),
            F.length("p_name").cast("bigint").alias("len"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("t"),
            F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("bt"),
            F.trim(F.col("p_name")).alias("tr"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )


@query("q18_datetime_funcs")
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.select(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("om"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


@query("q19_math_conditional")
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # exact product in bigint-cents fixed point (2dp inputs → the 3-factor
    # product is units of 1e-6 dollars, pure long per row; the decimal(12,2)
    # spelling typed decimal(38,6) — BigDecimal on every row), then the
    # exact /1e6 + HALF_UP round in decimal — Spark's ROUND on *doubles*
    # rounds the shortest string repr while DuckDB rounds the binary value,
    # so doubles must never reach the ROUND
    charge_e6 = (
        _cents100("l_extendedprice")
        * (100 - _cents100("l_discount"))
        * (100 + _cents100("l_tax"))
    )
    return (
        t.lineitem.select(
            "l_orderkey",
            "l_linenumber",
            _fixed_money(charge_e6, 6).alias("charge"),
            F.when(F.col("l_discount") > 0.05, "HI")
            .when(F.col("l_discount") > 0.02, "MID")
            .otherwise("LO")
            .alias("disc_band"),
            (F.abs(F.col("l_discount") - 0.05) > 0.01).alias("far"),
        )
        # the corpus has duplicate (l_orderkey, l_linenumber) pairs, so the
        # ORDER BY must be total over every output column or the two engines
        # order ties differently at the LIMIT boundary
        .orderBy("l_orderkey", "l_linenumber", "charge", "disc_band", "far")
        .limit(200)
    )


@query("q20_topk_per_group")
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t.orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .limit(300)
    )


@query("q21_cdc_dedup_latest")
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version-wins dedup — operator B8 expressed as a query on the
    events CDC analog table (user_id = key, (ts, event_id) = version)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
        .orderBy("user_id")
    )


@query("q22_asof_join")
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event to the max orderkey of the same user with
    orderdate <= event ts. Expressed as left range-join + re-aggregate;
    Spark plans the equi part (user_id = o_custkey) as the join key."""
    t = Tables(spark, sf_dir)
    e = t.events.select("event_id", "user_id", "ts")
    o = t.orders.select("o_custkey", "o_orderkey", "o_orderdate")
    return (
        e.join(o, (F.col("user_id") == F.col("o_custkey")) & (F.col("o_orderdate") <= F.col("ts")), "left")
        .groupBy("event_id")
        .agg(F.max("o_orderkey").alias("last_order"))
        .orderBy("event_id")
        .limit(300)
    )


@query("q23_cross_join")
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    r1 = t.region.select(F.col("r_name").alias("r1_name"))
    r2 = t.region.select(F.col("r_name").alias("r2_name"))
    return r1.crossJoin(r2).orderBy("r1_name", "r2_name")


@query("q24_json_extract")
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .orderBy("event_id")
        .limit(300)
    )


@query("q25_array_ops")
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.embeddings.select("vec_id", F.size("embedding").cast("bigint").alias("dim"))
        .orderBy("vec_id")
        .limit(100)
    )
