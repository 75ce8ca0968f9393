package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.money.r2

/** Analytic operators the reference's empty warehouse/reporting notebooks
  * implied (SURVEY §2.5/§2.6/§2.7): window functions, set operations, and a
  * scalar-function projection. All built-in, codegen'd expressions — no UDFs.
  */
object Analytics {

  /** Two-level global prefix sums — [[graft.stream.Events.peakConcurrency]]'s
    * bucket-and-chain pattern, generalized. The classic spelling of a global
    * running sum / row number is ONE unpartitioned ordered window: a
    * single-partition sort over the whole input that OOMs at 100 TB. Here
    * rows hash-shuffle into `bucket` groups (caller supplies an expression
    * MONOTONE non-decreasing in the `order` keys, e.g. `floor(v / width)`),
    * each task computes its within-bucket running sums, and only the
    * per-bucket totals — bounded by bucket count, not row count — chain
    * through a global window to produce cross-bucket offsets.
    *
    * For each `(name, expr)` in `sums`, appends `cum_<name>` (the inclusive
    * running sum over the global (bucket, order) order) and `total_<name>`
    * (the grand total, attached to every row via the same broadcast-sized
    * bucket table — no separate 1-row scalar cross-join needed). A global
    * row number is `sums = Seq("one" -> lit(1L))`. Sum exprs must be
    * integer-typed (counts/cents) so running sums stay exact; column names
    * `__bkt`/`cum_*`/`total_*` are reserved. */
  private[graft] def globalPrefixSums(df: DataFrame, bucket: Column,
      order: Seq[Column], sums: Seq[(String, Column)]): DataFrame = {
    val pre = sums.foldLeft(df.withColumn("__bkt", bucket)) {
      case (d, (n, c)) => d.withColumn(s"__v_$n", c)
    }
    val wIn = Window.partitionBy("__bkt").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIn = sums.foldLeft(pre) { case (d, (n, _)) =>
      d.withColumn(s"__c_$n", sum(col(s"__v_$n")).over(wIn))
    }
    val totAggs = sums.map { case (n, _) => sum(col(s"__v_$n")).as(s"__t_$n") }
    val per = pre.groupBy("__bkt").agg(totAggs.head, totAggs.tail: _*)
    val wB = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = sums.foldLeft(per) { case (d, (n, _)) =>
      d.withColumn(s"__o_$n", coalesce(sum(col(s"__t_$n")).over(wB), lit(0L)))
        .withColumn(s"total_$n", sum(col(s"__t_$n")).over(wAll))
    }.select(col("__bkt") +:
      sums.flatMap { case (n, _) => Seq(col(s"__o_$n"), col(s"total_$n")) }: _*)
    val joined = withIn.join(broadcast(offs), "__bkt")
    val withCums = sums.foldLeft(joined) { case (d, (n, _)) =>
      d.withColumn(s"cum_$n", col(s"__c_$n") + col(s"__o_$n"))
    }
    withCums.drop("__bkt")
      .drop(sums.flatMap { case (n, _) => Seq(s"__v_$n", s"__c_$n", s"__o_$n") }: _*)
  }

  /** Exact-long integer division for Column arithmetic (Spark's `/` on longs
    * returns double; the subtraction makes the quotient exactly
    * representable). */
  private[graft] def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** SQL `ntile(k)` bucket number from a precomputed global rank `i` (1-based)
    * and row count `n` — the arithmetic twin of the window function, for
    * plans that derive ranks via [[globalPrefixSums]] instead of a global
    * sort: the first `n % k` buckets get `n div k + 1` rows, the rest
    * `n div k`. */
  private[graft] def ntileFromRank(i: Column, n: Column, k: Int): Column = {
    val q = idiv(n, lit(k.toLong))
    val r = pmod(n, lit(k.toLong))
    val cut = (q + lit(1L)) * r
    when(i <= cut, idiv(i - 1, q + lit(1L)) + lit(1L))
      .otherwise(r + idiv(i - lit(1L) - cut, q) + lit(1L))
      .cast("int")
  }

  /** Per-customer order sequence: row_number / previous order price / running
    * revenue. One shuffle on the partition key; ordering key
    * (o_orderdate, o_orderkey) is unique so results are deterministic. */
  def customerOrderSequence(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // RANGE frame needs a numeric ordering key: days since epoch
    val day = datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
    val trailing30 = Window.partitionBy("o_custkey").orderBy(day)
      .rangeBetween(-30, Window.currentRow)
    orders.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      row_number().over(w).as("rn"),
      dense_rank().over(w).as("drank"),
      lag("o_totalprice", 1).over(w).as("prev_total"),
      lead("o_totalprice", 1).over(w).as("next_total"),
      r2(sum("o_totalprice").over(run)).as("running_total"),
      r2(sum("o_totalprice").over(trailing30)).as("trailing_30d_total"))
  }

  /** Customers with no orders — EXCEPT (distinct set semantics), the engine
    * form of the validator's set differences read in reverse. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    // EXCEPT-semantics via LEFT ANTI: c_custkey is the customer PK (unique),
    // so the anti-join IS the set difference — without EXCEPT's two distinct
    // aggregates. At scale the orders side stays a per-partition hash probe
    // (AQE broadcasts the build after the scan prunes to one column).
    customer.select("c_custkey")
      .join(orders.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")

  /** Scalar-function surface demo over orders (SURVEY §2.8: casts, round/abs,
    * date extract/arith, concat) — all whole-stage-codegen expressions. */
  def orderScalarProjection(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"),
      month(col("o_orderdate")).as("o_month"),
      datediff(to_date(lit("2026-01-01")), to_date(col("o_orderdate"))).as("days_before_2026"),
      date_add(to_date(col("o_orderdate")), 30).as("due_date"),
      concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_priority"),
      floor(col("o_totalprice") / 1000.0).cast("long").as("price_bucket"),
      round(abs(col("o_totalprice") - lit(1000.0)), 2).as("abs_diff_1000"))

  /** Distribution window functions over orders (ntile quartiles,
    * percent_rank, cume_dist, first/last value per status) — §2.5 beyond
    * ranking. Ordering key is unique, so all outputs are deterministic. */
  def orderDistributionStats(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders.select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      first("o_totalprice").over(frame).as("min_in_status"),
      last("o_totalprice").over(frame).as("max_in_status"))
  }

  /** Explicit GROUPING SETS with grouping_id — the subtotal shapes
    * rollup/cube can't express (disjoint per-dimension totals only). SQL
    * path for the same Spark 4.1.2 analyzer reason as rollup/cube. */
  def revenueGroupingSets(fact: DataFrame): DataFrame = {
    val view = "graft_fact_for_gsets"
    fact.select("c_mktsegment", "o_orderstatus", "revenue").createOrReplaceTempView(view)
    fact.sparkSession.sql(
      s"""SELECT c_mktsegment, o_orderstatus,
         |  CAST(sum(CAST(floor(revenue * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue,
         |  count(*) AS n_rows,
         |  grouping_id(c_mktsegment, o_orderstatus) AS gid
         |FROM $view
         |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())""".stripMargin)
  }

  /** Per-segment order extremes via max_by/min_by with a struct tiebreak —
    * the argmin/argmax aggregate surface. The struct (price, key) makes the
    * selection total-ordered, so results are deterministic under any
    * partitioning. */
  def segmentOrderExtremes(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("max_order_key"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("min_order_key"),
        max(col("o_totalprice")).as("max_total"),
        min(col("o_totalprice")).as("min_total"))

  /** Calendar feature projection (quarter / day-of-week / last-day /
    * week-truncation / month arithmetic) — the §2.8 date surface beyond
    * q17's year/month/datediff. All codegen'd built-ins. */
  def orderDateFeatures(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey"),
      quarter(col("o_orderdate")).as("o_quarter"),
      dayofweek(col("o_orderdate")).as("dow"),
      last_day(to_date(col("o_orderdate"))).as("month_end"),
      to_date(date_trunc("week", col("o_orderdate"))).as("week_start"),
      add_months(to_date(col("o_orderdate")), 1).as("next_month"))

  /** String-function projection over part (upper / translate / levenshtein /
    * lpad / instr / substring / reverse) — §2.8 string surface. */
  def partStringFeatures(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      translate(col("p_brand"), "Brand", "").as("brand_num"),
      levenshtein(col("p_type"), lit("STANDARD")).as("lev_standard"),
      lpad(col("p_type"), 10, "_").as("type_pad"),
      instr(col("p_name"), "a").as("a_pos"),
      substring(col("p_name"), 1, 3).as("name_prefix"),
      reverse(col("p_name")).as("name_rev"))

  /** Wide-to-long unpivot of lineitem measures, profiled per metric —
    * §2.9's UNPIVOT/melt relational operator (count/min/max are exact, so
    * the profile is engine-portable). */
  def lineitemMetricsProfile(lineitem: DataFrame): DataFrame =
    lineitem
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("n_values"), min("value").as("min_value"),
        max("value").as("max_value"))

  /** Left-anti join scoped by a predicate: parts with NO shipment in the
    * given year-month. The anti-join's build side is pre-filtered, so at
    * scale the join reads a month of lineitem, not all of it. */
  def partsNotShippedIn(part: DataFrame, lineitem: DataFrame,
                        yr: Int, mo: Int): DataFrame =
    part.join(
      lineitem.filter(year(col("l_shipdate")) === yr && month(col("l_shipdate")) === mo),
      col("p_partkey") === col("l_partkey"), "left_anti")
      .select("p_partkey", "p_type")

  /** Broadcast map-literal lookup + mismatch predicate — the engine form of
    * the reference's dictionary-consistency check
    * (`scripts/validate_dataset.py:147-151`, pandas rowwise `apply` there;
    * a constant-folded `typedLit(Map)` lookup here). Rows whose looked-up
    * value disagrees with `actualCol` are the violations. */
  def mapLookupMismatch(df: DataFrame, keyCol: String, actualCol: String,
                        mapping: Map[String, String]): DataFrame = {
    val m = typedLit(mapping)
    df.withColumn("expected_value", element_at(m, col(keyCol)))
      .filter(!(col("expected_value") <=> col(actualCol)))
  }

  /** Set algebra over customer keys: (customers in `segment` with orders)
    * plus customers with negative balance — INTERSECT then UNION, both
    * distinct set semantics (SURVEY §2.7). */
  def customerSetAlgebra(customer: DataFrame, orders: DataFrame,
                         segment: String): DataFrame = {
    val inSegment = customer.filter(col("c_mktsegment") === segment).select("c_custkey")
    val withOrders = orders.select(col("o_custkey").as("c_custkey"))
    val negative = customer.filter(col("c_acctbal") < 0).select("c_custkey")
    inSegment.intersect(withOrders).union(negative).distinct()
  }

  /** Statistical moment/regression aggregates per group (§2.4 extension):
    * correlation, covariance, stddev/variance, and least-squares slope/
    * intercept of extendedprice on quantity. All are one-pass partial+final
    * hash aggregates (constant state per group — 100 TB safe). Results are
    * rounded to 6 dp because moment merges accumulate floats in
    * partition-dependent order; 1e-6 is far above the ~1e-12 merge drift and
    * far below any real signal. */
  def lineitemStats(lineitem: DataFrame): DataFrame = {
    def r6(c: Column): Column = round(c, 6)
    lineitem.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
      r6(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("covar_pop_qty_price"),
      r6(stddev_samp(col("l_discount"))).as("stddev_discount"),
      r6(var_pop(col("l_tax"))).as("var_pop_tax"),
      r6(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope_price_on_qty"),
      r6(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("intercept_price_on_qty"))
  }

  /** Gap-filled month scaffold (time-series densification): one row per
    * calendar month between the first and last order date — including months
    * with NO orders, zero-filled — with order count and money-exact revenue.
    * The scaffold is generated from a 1-row bounds aggregate (`sequence` +
    * `explode`, no driver loop) and is tiny at any data scale, so the join
    * back to the per-month aggregate broadcasts. */
  def monthlyOrderScaffold(orders: DataFrame): DataFrame = {
    import graft.functions.money.sumMoney
    val monthly = orders
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("month_start"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("total_amount"))
    val scaffold = orders
      .agg(min(to_date(col("o_orderdate"))).as("lo"), max(to_date(col("o_orderdate"))).as("hi"))
      .select(explode(sequence(trunc(col("lo"), "month"), trunc(col("hi"), "month"),
        expr("interval 1 month"))).as("month_start"))
    scaffold.join(monthly, Seq("month_start"), "left")
      .select(col("month_start"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total_amount"), lit(0.0)).as("total_amount"))
  }

  /** Deterministic hash sample: keep rows whose md5(key) falls in the first
    * `keepSixteenths` of hex space. Unlike `TABLESAMPLE`/`df.sample` this is
    * reproducible across engines, partitionings, and reruns — the property a
    * training-data pipeline needs for stable held-out splits. Pure map, no
    * shuffle; the hash is a codegen'd built-in. */
  def hashSample(df: DataFrame, keyCol: String, keepSixteenths: Int): DataFrame = {
    require(keepSixteenths >= 1 && keepSixteenths <= 16)
    val nibbles = "0123456789abcdef".take(keepSixteenths).map(_.toString)
    df.filter(substring(md5(col(keyCol).cast("string")), 1, 1)
      .isin(nibbles: _*))
  }

  /** Per-customer basket drift between two years: sizes of the
    * intersection/differences of the distinct part sets bought in each year.
    * One aggregate builds both sets via null-skipping conditional
    * `collect_set`s (no self-join, no second pass); output is set SIZES so
    * results stay scalar and engine-comparable. State per customer is
    * bounded by catalog size, not order count. */
  def customerBasketDrift(lineitem: DataFrame, orders: DataFrame,
                          y1: Int, y2: Int): DataFrame = {
    val joined = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey"),
        year(col("o_orderdate")).as("yr"))
      .filter(col("yr").isin(y1, y2))
    joined.groupBy("o_custkey")
      .agg(
        collect_set(when(col("yr") === y1, col("l_partkey"))).as("p1"),
        collect_set(when(col("yr") === y2, col("l_partkey"))).as("p2"))
      .select(col("o_custkey"),
        size(array_intersect(col("p1"), col("p2"))).as("n_common"),
        (size(col("p1")) - size(array_intersect(col("p1"), col("p2")))).as(s"n_only_$y1"),
        (size(col("p2")) - size(array_intersect(col("p1"), col("p2")))).as(s"n_only_$y2"))
  }

  /** Exact interpolated percentiles of `o_totalprice` per order status
    * (§2.4): the exact companion to the sketched `percentile_approx` in
    * [[Warehouse.orderSketches]] — use this form when the group count is
    * bounded and exactness matters, the sketch when it is not. Rounded to
    * 4 dp: inputs have 2 dp and interpolation fractions at these quantiles
    * have ≤2 dp, so the true value is exact at 4 dp and rounding only
    * removes float-lowbit drift. */
  def orderPricePercentiles(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus").agg(
      count(lit(1)).as("n"),
      round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
      round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
      round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))

  /** Equi-DEPTH histogram: decile buckets each holding ~n/10 rows (the
    * companion to [[equiWidthHistogram]]'s fixed-width buckets — this shape
    * adapts to skew). Decile assignment is exact SQL `ntile(10)` semantics
    * over (price, key) — but derived from a two-level global rank
    * ([[globalPrefixSums]] over `floor(price / bucketWidth)` range buckets)
    * instead of one unpartitioned fact-sized ntile sort, so the only global
    * window runs over the bucket table. `bucketWidth` tunes balance, never
    * results. Deterministic and engine-portable: identical bucket membership
    * to the oracle's `ntile(10) OVER (ORDER BY price, key)`. */
  def priceDeciles(orders: DataFrame, bucketWidth: Double = 1000.0): DataFrame = {
    val ranked = globalPrefixSums(
      orders.select(col("o_totalprice"), col("o_orderkey")),
      floor(col("o_totalprice") / lit(bucketWidth)),
      Seq(col("o_totalprice"), col("o_orderkey")),
      Seq("one" -> lit(1L)))
    ranked
      .withColumn("decile", ntileFromRank(col("cum_one"), col("total_one"), 10))
      .groupBy("decile").agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** Null-semantics probe: three-valued comparison (`=` skips nulls) vs
    * null-safe equality (Spark `<=>` == SQL IS NOT DISTINCT FROM), plus the
    * null census — one scalar row asserting the engine's NULL contract
    * matches ANSI expectations bit-for-bit against any compliant oracle. */
  def nullSemantics(orders: DataFrame): DataFrame = {
    val x = when(col("o_orderkey") % 3 === 0, lit(null)).otherwise(col("o_orderkey") % 5)
    val y = when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_orderkey") % 5)
    orders.select(x.as("x"), y.as("y")).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("x") === col("y"), 1L).otherwise(0L)).as("n_eq"),
      sum(when(col("x") <=> col("y"), 1L).otherwise(0L)).as("n_null_safe_eq"),
      sum(when(col("x").isNull && col("y").isNull, 1L).otherwise(0L)).as("n_both_null"),
      count(col("x")).as("n_x_present"),
      count(col("y")).as("n_y_present"))
  }

  /** Order-status transition counts over each customer's order sequence
    * (the Markov-chain summary of lifecycle behavior): one lag window per
    * customer, then a tiny count aggregate over (prev, next) pairs.
    * Date+key ordering keeps the sequence deterministic under ties. */
  def statusTransitions(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderstatus"),
        lag(col("o_orderstatus"), 1).over(w).as("prev_status"))
      .filter(col("prev_status").isNotNull)
      .groupBy("prev_status", "o_orderstatus")
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Pearson chi-square statistic for independence of two categorical
    * columns, from the contingency counts (the inferential companion to
    * `stat.crosstab`/q83). Expected counts are products of integer-exact
    * marginal sums (window aggregates over the |cells| rows), so the only
    * engine drift is the final few-term float sum — absorbed at 6 dp. */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL categories: equality joins treat null keys asymmetrically — the
    // grid left-join below never matches them, so observed null-category rows
    // would vanish from the marginals while their grid cells still contribute
    // as obs=0, silently skewing the statistic. Fold null into a sentinel
    // category that CANNOT collide with real data: every real value gets a
    // "v" prefix, null gets a distinct "n" prefix (only n_cells/chi2 leave
    // this function, so the internal labels are free to change).
    def tag(c: String) = when(col(c).isNull, lit("n"))
      .otherwise(concat(lit("v"), col(c).cast("string"))).as(c)
    val in = df.select(tag(aCol), tag(bCol))
    val obs = in.groupBy(aCol, bCol).agg(count(lit(1)).cast("double").as("obs"))
    // densify: UNOBSERVED category pairs still contribute (0 - exp)^2/exp —
    // without the grid a perfectly dependent table reports half its chi2.
    // The cross join is |a| x |b| category values, never data rows.
    val grid = in.select(col(aCol)).distinct()
      .crossJoin(in.select(col(bCol)).distinct())
    val full = grid.join(obs, Seq(aCol, bCol), "left")
      .select(col(aCol), col(bCol), coalesce(col("obs"), lit(0.0)).as("obs"))
    val cells = full.select(col("obs"),
      sum(col("obs")).over(Window.partitionBy(aCol)).as("rt"),
      sum(col("obs")).over(Window.partitionBy(bCol)).as("ct"),
      sum(col("obs")).over(Window.partitionBy()).as("g"))
    val exp = col("rt") * col("ct") / col("g")
    cells.agg(count(lit(1)).as("n_cells"),
      round(sum((col("obs") - exp) * (col("obs") - exp) / exp), 6).as("chi2"))
  }

  /** Median absolute deviation per group — the robust spread measure
    * (insensitive to the price outliers that wreck stddev). Two exact
    * percentile aggregates with a broadcast join between them: group medians
    * are |groups| rows, so the second pass streams the fact table once.
    * 4 dp rounding per the q75 exactness argument (2 dp inputs, dyadic
    * interpolation fractions). */
  def orderPriceMad(orders: DataFrame): DataFrame = {
    val med = orders.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    orders.join(broadcast(med), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(abs(o_totalprice - med), 0.5)"), 4).as("mad"))
  }

  /** Distribution-shape moments per group: population skewness
    * (m3 / m2^1.5) and excess kurtosis (m4 / m2^2 - 3) — Spark's built-in
    * definitions, which an oracle engine must spell as explicit central
    * moments (DuckDB's `skewness`/`kurtosis` apply sample-size corrections
    * and would NOT match). One map-side-combined aggregate; 6 dp rounding
    * absorbs the online-vs-two-pass moment drift (~1e-11 relative), same
    * policy as [[lineitemStats]]. */
  def lineitemShape(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      round(skewness(col("l_extendedprice")), 6).as("skew"),
      round(kurtosis(col("l_extendedprice")), 6).as("kurt"))

  /** Orders priced above their customer's own average — spelled as a
    * CORRELATED scalar subquery so Catalyst's decorrelation rewrites it into
    * one aggregate + one equi-join (verified by plan audit: no nested-loop
    * or cartesian fallback). The SQL-surface twin of the window-function
    * forms elsewhere; at scale both plans shuffle once on the key. */
  def ordersAboveCustomerAvg(orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("graft_q97_orders")
    orders.sparkSession.sql(
      """SELECT o_custkey, count(*) AS n_above
        |FROM graft_q97_orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice)
        |                      FROM graft_q97_orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey""".stripMargin)
  }

  /** Deterministic per-group mode: the most frequent `valCol` in each
    * `grpCol`, ties broken by smallest value. Spark's built-in `mode()` (and
    * DuckDB's) picks an ARBITRARY element on ties, which is useless for an
    * engine-parity gate and irreproducible across partitionings — this form
    * (count-then-rank) is fully deterministic. Two shuffles of the SMALL
    * aggregated domain (|groups|x|values| rows), never of the fact table;
    * the first aggregate is map-side-combined. */
  def groupMode(df: DataFrame, grpCol: String, valCol: String): DataFrame = {
    val counts = df.groupBy(grpCol, valCol).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(grpCol).orderBy(desc("n"), asc(valCol))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(grpCol), col(valCol).as(s"mode_$valCol"), col("n"))
  }

  /** Equi-width histogram of a positive numeric column: bucket index =
    * floor(x / width). Spelled with plain floor-division (identical IEEE op
    * in every engine) rather than `width_bucket`, whose internal scaling
    * arithmetic differs between implementations and can flip a boundary
    * value's bucket by one ulp. Single map-side-combined aggregate — one
    * shuffle of |buckets| rows regardless of table size. */
  def equiWidthHistogram(df: DataFrame, valCol: String, width: Double): DataFrame =
    df.groupBy(floor(col(valCol) / lit(width)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(valCol)).as("min_val"),
        max(col(valCol)).as("max_val"))

  /** Revenue share-of-total per segment: a whole-table window over the
    * PRE-AGGREGATED rows (|segments| of them), not the fact table — the
    * share division touches 5 rows at any data scale. Sums are exact integer
    * cents ([[graft.functions.money.sumMoney]]) so the shares are
    * engine-portable at 6 dp. */
  def revenueShareBySegment(factSlim: DataFrame): DataFrame = {
    val seg = factSlim.groupBy("c_mktsegment")
      .agg(sum(floor(col("revenue") * lit(100.0) + lit(0.5)).cast("long"))
        .as("cents"))
    seg.select(col("c_mktsegment"),
      (col("cents").cast("double") / lit(100.0)).as("segment_revenue"),
      round(col("cents").cast("double") /
        sum(col("cents")).over().cast("double"), 6).as("revenue_share"))
  }

  /** 7-day moving average of daily revenue via a RANGE frame over an
    * integer day number (epoch days) — the time-series smoothing primitive.
    * RANGE (not ROWS) so calendar gaps shrink the window instead of
    * stretching it across missing days. The window runs over the
    * PRE-AGGREGATED daily rows (|days| = time span, not row count), and the
    * frame sums exact integer cents with ONE double division at the end, so
    * every engine lands on the identical IEEE result. */
  def movingDailyRevenue(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
        .as("cents"))
      .withColumn("daynum",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))))
    val w = Window.orderBy("daynum").rangeBetween(-6, 0)
    daily.select(col("day"),
      (col("cents").cast("double") / lit(100.0)).as("day_revenue"),
      count(lit(1)).over(w).as("n_days_in_window"),
      (sum(col("cents")).over(w).cast("double") /
        (count(lit(1)).over(w) * lit(100L)).cast("double")).as("ma7"))
  }

  /** Map-typed aggregation analytics: per priority build a status->count
    * map (`map_from_entries` over sorted entries, deterministic), keep only
    * statuses holding >= 5% of the priority's rows via `map_filter` (the
    * threshold compare is integer math — no division drift), derive shares
    * with `transform_values`, and explode back to rows. Exercises the map
    * HOF surface end-to-end while staying oracle-comparable (scalar rows
    * out, single double division per row). */
  def priorityStatusMapShare(orders: DataFrame): DataFrame = {
    val cells = orders.groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
    cells.groupBy("o_orderpriority")
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("o_orderstatus"), col("n"))))).as("status_counts"))
      .withColumn("total",
        aggregate(map_values(col("status_counts")), lit(0L), (a, x) => a + x))
      .withColumn("kept",
        map_filter(col("status_counts"), (_, v) => v * lit(20L) >= col("total")))
      .withColumn("shares", transform_values(col("kept"),
        (_, v) => v.cast("double") / col("total").cast("double")))
      .select(col("o_orderpriority"), col("total"), col("status_counts"),
        explode(col("shares")).as(Seq("o_orderstatus", "share")))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        element_at(col("status_counts"), col("o_orderstatus")).as("n"),
        col("total"), round(col("share"), 6).as("share"))
  }

  /** Count-min sketch accuracy gate (the point-frequency companion to the
    * HLL distinct gate, q84): build a distributed CMS over the key column,
    * then check its driver-side estimates against exact counts for a probe
    * set. The sketch guarantees estimate >= exact always, and
    * estimate <= exact + eps*N with the configured confidence — both are
    * asserted into the verified output, since sketch internals are
    * engine-specific by design. Probe exact counts are one tiny filtered
    * aggregate, never a full-table collect. */
  def cmsGate(spark: org.apache.spark.sql.SparkSession, orders: DataFrame,
              nProbes: Int = 10, eps: Double = 0.01): DataFrame = {
    import spark.implicits._
    val probes = (1L to nProbes.toLong).toSeq
    val exact = orders.filter(col("o_custkey").isin(probes: _*))
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sk = orders.stat.countMinSketch("o_custkey", eps, 0.999, 42)
    // the sketch carries the stream length — no separate count() scan
    val total = sk.totalCount()
    val ests = probes.map(k => (exact.getOrElse(k, 0L), sk.estimateCount(k)))
    val underest = ests.count { case (e, est) => est < e }
    val bound = math.ceil(eps * total).toLong
    val within = ests.forall { case (e, est) => est <= e + bound }
    Seq((probes.size.toLong, underest.toLong, within))
      .toDF("n_probes", "n_underest", "within_bound")
  }

  /** Exact distinct counting via re-aggregatable BITMAPS (§2.4 A10's exact
    * sibling): keys bucket into disjoint 32k-bit ranges
    * (`bitmap_bucket_number`), each (group, bucket) OR-combines bit
    * positions into one binary bitmap with map-side combine, and per-group
    * distinct = Σ `bitmap_count` over its buckets — buckets partition the
    * key space, so the counts add exactly. Unlike `count(DISTINCT)`, whose
    * dedup state is row-sized, the shuffled state here is bounded by the key
    * RANGE (4 KiB per 32k-key bucket) and the partial bitmaps are storable:
    * persist the (group, bucket, bitmap) layer as a sidecar table and any
    * rollup (day→month, segment→total) is `bitmap_or_agg` over it — exact
    * distinct counts without rescanning raw data (the exact analogue of the
    * q84 HLL-union pattern). */
  def bitmapDistinct(df: DataFrame, groupCol: String, keyCol: String,
                     alias: String): DataFrame = {
    val buckets = df
      .select(col(groupCol),
        expr(s"bitmap_bucket_number($keyCol)").as("bkt"),
        expr(s"bitmap_bit_position($keyCol)").as("pos"))
      .groupBy(groupCol, "bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    buckets.groupBy(groupCol)
      .agg(sum(expr("bitmap_count(bm)")).as(alias))
  }

  /** Ordered string aggregation via the native `listagg` (Spark 4's
    * built-in WITHIN-GROUP form of q68's collect_list + array_join
    * spelling): deterministic because the ORDER BY key set is total. */
  def nationListPerRegion(nation: DataFrame): DataFrame =
    nation.groupBy("n_regionkey")
      .agg(expr("listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name)")
        .as("nations"),
        count(lit(1)).as("n_nations"))

  /** Top-k orders per market segment via a correlated LATERAL subquery —
    * the "for each outer row, run this parameterized subquery" join shape.
    * Catalyst decorrelates the ORDER BY + LIMIT into a ranked window join
    * (no per-row re-execution), which is exactly what you want at scale:
    * one shuffle, WindowGroupLimit pushdown. Deterministic tiebreak on the
    * order key. */
  def topOrdersPerSegmentLateral(spark: org.apache.spark.sql.SparkSession,
                                 customer: DataFrame, orders: DataFrame,
                                 k: Int = 3): DataFrame = {
    customer.createOrReplaceTempView("graft_lat_customer")
    orders.createOrReplaceTempView("graft_lat_orders")
    spark.sql(
      s"""SELECT s.c_mktsegment, t.o_orderkey, t.o_totalprice
         |FROM (SELECT DISTINCT c_mktsegment FROM graft_lat_customer) s,
         |LATERAL (
         |  SELECT o_orderkey, o_totalprice
         |  FROM graft_lat_orders JOIN graft_lat_customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment = s.c_mktsegment
         |  ORDER BY o_totalprice DESC, o_orderkey LIMIT $k) t""".stripMargin)
  }

  /** Bounded multi-hop reachability over the co-purchase graph via a
    * RECURSIVE CTE (Spark 4's WITH RECURSIVE — iterative UnionLoop
    * execution, the declarative sibling of the iterative min-label loop in
    * [[graft.ops.Graph.connectedComponents]]): starting from the smallest
    * part id in the edge set, expand undirected edges up to `maxHops`,
    * reporting each reached part's minimum hop distance. The hop bound
    * caps the path explosion (the recursion enumerates PATHS — Spark 4 has
    * no distinct-UNION recursion yet — and the final GROUP BY collapses
    * them), so keep it small on hub-heavy graphs: paths grow with the
    * product of degrees along the walk. At scale prefer the label-propagation form for
    * unbounded traversals, this form for small fixed-depth expansions
    * (recommendation neighborhoods, blast-radius queries).
    *
    * CACHE LIFETIME ([[graft.ops.Caching]] contract): the UnionLoop
    * re-reads the edge table every iteration (plus the seed subquery), so
    * `pairs` is a scoped interim the view is registered over, and the
    * RESULT is materialized — after which the view is dropped and the
    * pairs entry released inside this call. The only surviving cache
    * entry is the returned frame itself; release it with
    * [[graft.ops.Caching.release]] when done. */
  def reachableParts(spark: org.apache.spark.sql.SparkSession,
                     pairs: DataFrame, maxHops: Int = 3): DataFrame =
    Caching.scoped { scope =>
      val view = s"graft_reach_pairs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      scope.materialize(pairs).createOrReplaceTempView(view)
      try Caching.materialize(spark.sql(
        s"""WITH RECURSIVE e AS (
           |  SELECT part_a AS src, part_b AS dst FROM $view
           |  UNION ALL
           |  SELECT part_b AS src, part_a AS dst FROM $view
           |), r(part, dist) AS (
           |  SELECT (SELECT min(part_a) FROM $view), 0
           |  UNION ALL
           |  SELECT e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.part
           |  WHERE r.dist < $maxHops
           |)
           |SELECT part, min(dist) AS hops FROM r GROUP BY part""".stripMargin))
      finally spark.catalog.dropTempView(view)
    }

  /** Lag-`lagDays` autocorrelation of the daily revenue series — the
    * weekly-seasonality detector (lag 7 near 1 = strong weekly cycle).
    * Day grain first (one map-combined aggregate, EXACT integer cents so
    * the series is bit-identical across engines), then a self-join on the
    * shifted day and one `corr` — dimension-sized after the first shuffle.
    * 6 dp rounding absorbs float sum order in the moment aggregate. */
  def dailyRevenueAutocorr(orders: DataFrame, lagDays: Int = 7): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(graft.functions.money.sumMoney(col("o_totalprice")).as("rev"))
    daily.as("a")
      .join(daily.as("b"), expr(s"b.d = date_add(a.d, $lagDays)"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("a.rev"), col("b.rev")), 6).as("autocorr"))
  }

  /** Robust outlier census per group: |x − median| > k·MAD (the
    * median-absolute-deviation rule — unlike a stddev z-score, one extreme
    * value cannot inflate its own threshold). Two exact percentile passes
    * (same shape as [[orderPriceMad]]), broadcast thresholds, one counting
    * pass. Boundary semantics are exact-float comparisons on both engines
    * (medians/MADs interpolate identical values from identical inputs). */
  def robustOutliers(orders: DataFrame, k: Double = 3.0): DataFrame = {
    val med = orders.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    val mad = orders.join(broadcast(med), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(max("med").as("med"),
        expr("percentile(abs(o_totalprice - med), 0.5)").as("mad"))
    orders.join(broadcast(mad), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("o_totalprice") - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(sum(when(abs(col("o_totalprice") - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)).cast("double"), 6)
          .as("outlier_rate"))
  }

  /** Mann–Whitney U (rank-sum) statistic between rows where `pred` holds
    * (sample a) and the rest, with midrank tie handling — the rank-based
    * companion of [[ksStatistic]] (sensitive to location shift, not shape).
    * Same scaffold: per-distinct-value counts, two-level running counts
    * ([[globalPrefixSums]] over `floor(v / bucketWidth)` range buckets — no
    * unpartitioned value-cardinality window), then R_a = Σ ca·midrank and
    * U = R − n(n+1)/2. Counts are integers; midranks are exact .5
    * fractions — binary-exact on any engine. NULL values are excluded up
    * front (Spark sorts NULL first on ASC, other engines default NULLS
    * LAST — a nullable column would otherwise diverge; U is undefined for
    * NULL anyway). */
  def mannWhitneyU(df: DataFrame, valueCol: String, pred: Column,
                   bucketWidth: Double = 1024.0): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("v"), pred.cast("int").as("in_a"))
      .groupBy("v")
      .agg(sum(col("in_a")).as("ca"), sum(lit(1) - col("in_a")).as("cb"))
    val cum = globalPrefixSums(counts, floor(col("v") / lit(bucketWidth)),
      Seq(col("v")), Seq("n" -> (col("ca") + col("cb")), "ca" -> col("ca")))
    cum.select(col("ca"), col("cb"),
        (col("cum_n") - (col("ca") + col("cb"))).as("before"),
        col("total_ca").as("n_a"), (col("total_n") - col("total_ca")).as("n_b"))
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        (sum(col("ca").cast("double") *
          (col("before").cast("double") + (col("ca") + col("cb") + 1).cast("double") / 2.0)) -
          max(col("n_a") * (col("n_a") + 1)).cast("double") / 2.0).as("u_a"))
      .select(col("n_a"), col("n_b"),
        col("u_a"), (col("n_a").cast("double") * col("n_b").cast("double") - col("u_a"))
          .as("u_b"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: D = max |F_a(x) − F_b(x)|
    * between rows where `pred` holds (sample a) and the rest (sample b),
    * over `valueCol`. Distribution-drift detection with no binning choice —
    * the nonparametric companion of [[chi2Independence]].
    *
    * One aggregate collapses the data to per-distinct-value counts, then
    * BOTH empirical CDFs come from two-level running counts
    * ([[globalPrefixSums]] over `floor(v / bucketWidth)` range buckets) —
    * for a continuous column, distinct values ≈ row count, so the classic
    * one-global-window CDF is a fact-sized single-partition sort; here the
    * only global window runs over the bucket table. Counts are exact
    * integers; the only float ops are two divisions and an abs, identical
    * per row in any engine, and max is order-independent — so no rounding
    * is needed. NULL values are excluded up front (Spark sorts NULL first
    * on ASC, other engines default NULLS LAST; a CDF over NULL is
    * meaningless). */
  def ksStatistic(df: DataFrame, valueCol: String, pred: Column,
                  bucketWidth: Double = 1024.0): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("v"), pred.cast("int").as("in_a"))
      .groupBy("v")
      .agg(sum(col("in_a")).as("ca"), sum(lit(1) - col("in_a")).as("cb"))
    val cum = globalPrefixSums(counts, floor(col("v") / lit(bucketWidth)),
      Seq(col("v")), Seq("ca" -> col("ca"), "cb" -> col("cb")))
    cum.agg(max("total_ca").as("n_a"), max("total_cb").as("n_b"),
      max(abs(col("cum_ca").cast("double") / col("total_ca").cast("double") -
        col("cum_cb").cast("double") / col("total_cb").cast("double"))).as("ks_d"))
  }
}
