package graft.queries

import graft.{GraftSession, Tables}
import graft.GraftSession.freshDir
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The extended analytical surface (SURVEY §2.3): joins, aggregations,
  * window functions, sorts/top-k, set ops, grouping sets — all built-ins,
  * declared via the DataFrame API so Catalyst picks the physical strategy.
  *
  * Numeric discipline for oracle parity: the money/quantity doubles in the
  * test tables are 2-decimal-clean, so every SUM is done in exact
  * DECIMAL arithmetic and only the final value is cast to DOUBLE — DuckDB
  * and Spark then agree bit-for-bit (no float-summation-order drift).
  *
  * Scale notes are per-query in the Scaladoc.
  */
object Analytics {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Exact 2-dec decimal views of the clean double columns. Widths are
    * kept tight so decimal products never exceed precision 38 (no
    * precision-loss rounding → bit-exact parity with the DuckDB oracle). */
  private def dec(c: Column): Column = c.cast(DecimalType(10, 2))
  private def pct(c: Column): Column = c.cast(DecimalType(4, 2))
  private val one = lit(java.math.BigDecimal.ONE).cast(DecimalType(3, 2))

  /** TPC-H Q1-style pricing summary. One hash aggregate; partial (map-side)
    * aggregation makes the shuffle carry only |groups| rows per task —
    * at 100 TB the exchange is O(6 groups × tasks), i.e. free. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-11-30").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount")))
          * (one + pct(col("l_tax")))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: 3-way join + agg + deterministic top-10.
    * customer is small → broadcast; orders⋈lineitem shuffles on the join
    * key once and the aggregate reuses that partitioning (groupBy keys
    * start with l_orderkey), so Catalyst plans a single exchange. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: 6-way join through region→nation→customer/supplier.
    * All dimension tables broadcast (region/nation/customer/supplier are
    * tiny vs lineitem even at 100 TB); only orders⋈lineitem shuffles. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val supp = t(spark, dir, "supplier")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7-style volume shipping: lineitem⋈orders is the only
    * fact-fact shuffle; supplier/customer and BOTH nation copies
    * broadcast. The dual-direction nation predicate runs after the
    * broadcasts; grouping keys are tiny. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val (na, nb) = ("NATION_9", "NATION_10")
    val n1 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        date_format(col("l_shipdate"), "yyyy").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8-style market share: NATION_9's fraction of PROMO-part
    * revenue per order year — a RATIO OF AGGREGATES (conditional sum over
    * total sum) after a 4-way join. part/supplier/nation broadcast; the
    * single fact-fact shuffle is lineitem⋈orders. Both sums stay exact
    * DECIMAL and each casts to double once before the one division. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part").filter(col("p_type") === "PROMO")
      .select("p_partkey")
    val nat = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("supp_nation"))
    val vol = sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_9",
          dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
          .otherwise(lit(java.math.BigDecimal.ZERO).cast(DecimalType(12, 4))))
          .cast("double") / vol.cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Semi + anti join in one result: customers with / without orders.
    * Planned as BroadcastHashJoin(LeftSemi/LeftAnti) — orders' key set is
    * the only thing shuffled/broadcast, never its payload. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select("c_custkey", "c_name")
    val ordKeys = t(spark, dir, "orders").select("o_custkey")
    val has = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
    val not = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    has.unionAll(not).orderBy("c_custkey", "tag")
  }

  /** Ranking window: top-2 orders per customer. At scale: single shuffle on
    * o_custkey; rank+filter is Spark's standard top-k-per-group plan. */
  def windowTopKPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))  // IntegerType — oracle casts to match
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** Analytic window: per-supplier running revenue (exact decimal running
    * sum, fully tie-broken ordering → deterministic). */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 3)
      .withColumn("running_revenue",
        sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
          .over(w).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_revenue")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** ROLLUP grouping sets over lineitem. */
  def rollupQuantity(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** CUBE over events (type × tenant). */
  def cubeEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("tenant", concat(lit("t"), (col("user_id") % 3).cast("string")))
      .cube(col("event_type"), col("tenant"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("value"))).cast("double").as("sum_value"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first,
        col("tenant").asc_nulls_first)

  /** Explicit GROUPING SETS over orders — the general form behind
    * rollup/cube: an arbitrary list of grouping-column sets computed in
    * ONE pass (Catalyst expands to a single hash aggregate over the
    * grouping-id-tagged union, not one scan per set). Same one-shuffle
    * cost model as a plain groupBy at any scale. */
  def groupingSetsOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** RANGE-frame window (value-based, not row-based): per-supplier
    * 30-day trailing quantity sum keyed on ship time. RANGE frames
    * include ALL peers of the boundary values, so the result is
    * order-tiebreak-independent — deterministic without a full tiebreak
    * column. Same one-shuffle-per-partition-key plan as any window. */
  def rangeFrameRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("ship_epoch"))
      .rangeBetween(-30L * 86400L, 0L)
    t(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 3)
      // tz-free epoch seconds (ship timestamps are midnight-aligned NTZ;
      // day-count × 86400 ≡ DuckDB epoch() without a session-tz dependency)
      .withColumn("ship_epoch",
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long") * 86400L)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(dec(col("l_quantity"))).over(w).cast("double").as("trailing_qty"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** lag/lead analytic windows: per-customer order sequence with
    * previous/next keys and the exact DECIMAL price delta vs the prior
    * order. One shuffle on the partition key, like any window. */
  def lagLeadOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    t(spark, dir, "orders").filter(col("o_custkey") <= 20)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
        lead(col("o_orderkey"), 1).over(w).as("next_ok"),
        (dec(col("o_totalprice")) - lag(dec(col("o_totalprice")), 1).over(w))
          .cast("double").as("price_delta"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Z-order key gate: the Morton-curve clustering key ([[graft.operators.ZOrder]])
    * computed over (l_partkey, l_suppkey) with exact integer min-max
    * scaling — the oracle rebuilds the interleave bit-by-bit, so a
    * hash-match certifies the entire key arithmetic (the layout win
    * itself is measured in ZOrderSpec via row-group skipping). */
  def zOrderKeyQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").filter(col("l_orderkey") <= 200)
    graft.operators.ZOrder.zOrdered(li, "l_partkey", "l_suppkey", bits = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("z_key"))
      .orderBy("z_key", "l_orderkey", "l_linenumber")
  }

  /** Set ops: nations appearing as customer vs supplier nations —
    * INTERSECT / EXCEPT / UNION distinct, tagged into one result. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val cn = t(spark, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
    val sn = t(spark, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("customer_only"))
    val suppOnly = sn.except(cn).withColumn("tag", lit("supplier_only"))
    both.unionAll(custOnly).unionAll(suppOnly).orderBy("tag", "nationkey")
  }

  /** Top-k by sort+limit → Spark plans TakeOrderedAndProject: each
    * partition keeps k rows, driver merges k×partitions — no full sort,
    * no full shuffle. The right plan at any scale. */
  def topKExpensive(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(15)

  /** DISTINCT aggregation: per-flag distinct order count (two-phase
    * distinct aggregate — partial distinct before the exchange). */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Tumbling-window time aggregation over events (batch analog of the
    * streaming hourly rollup). */
  def hourlyEventStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  /** Sessionization (gaps-and-islands): new session after a 30-min gap.
    * Two windows over the same (user_id, time) partitioning → single
    * shuffle; state is per-partition, no driver involvement. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .select("user_id", "event_id", "session_seq")
      .orderBy("user_id", "event_id")
  }

  /** TIME-SERIES GAP FILL: hourly per-type event counts on a DENSE hour
    * spine — missing hours materialize as zero rows plus a forward-fill
    * of the last observed count (the telemetry/dashboard shape Spark has
    * no native ASOF/spine operator for). The spine is GENERATED, not
    * scanned: one 1-row min/max aggregate broadcast into a `sequence()`
    * explode — spine size is the time range × |types|, independent of
    * data volume; the fill is a per-type window (ignoreNulls last). */
  def gapFillHourly(spark: SparkSession, dir: String): DataFrame = {
    val hourIdx = floor(unix_timestamp(col("ts")) / 3600).cast("long")
    val ev = t(spark, dir, "events")
    val hourly = ev.groupBy(col("event_type"), hourIdx.as("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(hourIdx).as("h_min"), max(hourIdx).as("h_max"))
    val types = ev.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h_min"), col("h_max"))).as("hour_idx"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("n"), ignoreNulls = true).over(byType).as("n_ffill"))
      .orderBy("event_type", "hour_idx")
  }

  /** CROSS-FORMAT FEDERATION: one plan joining a JSON dimension, an ORC
    * dimension, and the Parquet fact table — the "query the lake as it
    * is" composition (every format pair round-trips are separately gated
    * by FormatParitySpec; this gates that they JOIN). The two small dims
    * broadcast; the fact scan is the only distributed input. */
  def federatedJoin(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "fed", dir)
    t(spark, dir, "nation").write.mode("overwrite").json(s"$root/nation_json")
    t(spark, dir, "region").write.mode("overwrite").orc(s"$root/region_orc")
    val nation = spark.read.json(s"$root/nation_json")
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
    val region = spark.read.orc(s"$root/region_orc")
    t(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** APPROXIMATE QUERY PROCESSING with a DETERMINISTIC sample: a 10%
    * Bernoulli sample drawn by integer hash (portable arithmetic — the
    * identical rows sample in any engine), scaled estimates next to the
    * exact aggregates, and the realized relative error as an output
    * column. The AQP contract made auditable: a dashboard can serve the
    * estimate and publish its error. Sampling pushes to the scan as a
    * per-row predicate; both aggregates are one shuffle each. */
  def sampleEstimate(spark: SparkSession, dir: String): DataFrame = {
    val bucket = ((col("l_orderkey") % 100000) * 7919 +
      col("l_linenumber") * 104729) % 1000
    val li = t(spark, dir, "lineitem")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("q_exact"))
    val est = li.filter(bucket < 100)
      .groupBy(col("l_returnflag"))
      .agg((count(lit(1)) * 10).as("n_est"),
        (sum(col("l_quantity").cast("decimal(18,2)")) * 10).as("q_est"))
    exact.join(est, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"), col("n_est"),
        round(abs(col("n_est").cast("double") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6).as("n_rel_err"),
        col("q_exact").cast("double").as("q_exact"),
        col("q_est").cast("double").as("q_est"))
      .orderBy("l_returnflag")
  }

  /** JOIN-KEY SKEW REPORT: the diagnostic behind "which key melts my
    * shuffle" — per-key row counts of the probe side, the hot keys, and
    * the skew factor (max/mean). One map-side-combined aggregate + a
    * 1-row stats broadcast; top-10 by count. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    val stats = counts.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("total"),
      max(col("n")).as("max_n"))
    counts.crossJoin(broadcast(stats))
      .select(col("l_orderkey"), col("n"),
        round(col("max_n").cast("double") /
          (col("total").cast("double") / col("n_keys").cast("double")), 6)
          .as("skew_factor"))
      .orderBy(col("n").desc, col("l_orderkey"))
      .limit(10)
  }

  /** ANOMALY DETECTION on the hourly series: per-type z-scores of hourly
    * event counts against that type's own mean/σ, top-20 by |z| — the
    * monitoring query behind "this hour looks wrong". σ derives from
    * EXACT integer sums (Σc, Σc²) in a fixed double-expression order, so
    * scores are bit-stable cross-engine; two shuffles (hourly counts,
    * per-type stats broadcast back) + a TakeOrdered. */
  def anomalyHours(spark: SparkSession, dir: String): DataFrame = {
    val hourIdx = floor(unix_timestamp(col("ts")) / 3600).cast("long")
    val hourly = t(spark, dir, "events")
      .groupBy(col("event_type"), hourIdx.as("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val nd = col("n_hours").cast("double")
    val mean = col("s1").cast("double") / nd
    val varr = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nd) / nd
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z", round(
        when(varr > 0, (col("n").cast("double") - mean) / sqrt(varr))
          .otherwise(lit(0.0)), 6))
      .withColumn("abs_z", abs(col("z")))
      .orderBy(col("abs_z").desc, col("event_type"), col("hour_idx"))
      .limit(20)
      .select(col("event_type"), col("hour_idx"), col("n"), col("z"))
      .orderBy(col("z").desc, col("event_type"), col("hour_idx"))
  }

  /** COHORT RETENTION: users grouped by first-seen week, distinct actives
    * per (cohort, week offset) — the classic retention triangle. Two
    * shuffles (per-user min, then per-cell distinct count). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekIdx = floor(unix_timestamp(col("ts")) / 604800).cast("long")
    val ev = t(spark, dir, "events").select(col("user_id"), weekIdx.as("wk"))
    val cohorts = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** FUNNEL: view → click → purchase, each stage's first timestamp
    * strictly ordered after the previous stage's; per-stage distinct-user
    * counts. Per-user conditional min aggregates — the whole funnel is
    * three shuffles on user_id, no self-join explosion. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("t_view").isNotNull && col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    val spark2 = spark; import spark2.implicits._
    val stages = Seq((1, "view"), (2, "click"), (3, "purchase"))
      .toDF("stage", "stage_name")
    val counts = v.filter(col("t_view").isNotNull)
      .agg(count(lit(1)).as("n")).withColumn("stage", lit(1))
      .unionByName(c.agg(count(lit(1)).as("n")).withColumn("stage", lit(2)))
      .unionByName(p.agg(count(lit(1)).as("n")).withColumn("stage", lit(3)))
    stages.join(counts, "stage")
      .select(col("stage"), col("stage_name"), col("n").as("n_users"))
      .orderBy("stage")
  }

  /** The fixture's closed event-type domain — shared by the pivot and
    * its unpivot inverse so the two column lists can never drift. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** PIVOT: per-tenant event counts spread across event-type columns.
    * Planned as one aggregate with filtered counts — single shuffle. */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("tenant", concat(lit("t"), (col("user_id") % 3).cast("string")))
      .groupBy(col("tenant"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("tenant")

  /** UNPIVOT (melt): the inverse reshape of [[pivotEvents]] — the wide
    * per-tenant count columns back to (tenant, event_type, cnt) rows.
    * Composed on the pivot output, so the pair proves the reshape
    * round-trips; `unpivot` is a narrow projection (no shuffle beyond
    * the pivot's own aggregate). */
  def unpivotEvents(spark: SparkSession, dir: String): DataFrame =
    pivotEvents(spark, dir)
      .unpivot(Array(col("tenant")), eventTypes.map(col).toArray, "event_type", "cnt")
      .orderBy("tenant", "event_type")

  /** Correlated scalar subquery (decorrelated by Catalyst into a join):
    * customers above their nation's average balance. Exact decimal sum /
    * count keeps the threshold deterministic. */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("customer_sq")
    spark.sql(
      """SELECT c_custkey, c_acctbal FROM customer_sq c1
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |  FROM customer_sq c2 WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated EXISTS in the PROJECTION (not the filter): per-customer
    * boolean flag. Catalyst decorrelates to an existence join — single
    * shuffle on the correlation key, no per-row subquery execution. */
  def existsSelect(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("customer_ef")
    t(spark, dir, "orders").createOrReplaceTempView("orders_ef")
    spark.sql(
      """SELECT c_custkey,
        |  EXISTS(SELECT 1 FROM orders_ef o
        |         WHERE o.o_custkey = c.c_custkey
        |           AND o.o_totalprice > 100000) AS has_big_order
        |FROM customer_ef c ORDER BY c_custkey""".stripMargin)
  }

  /** LATERAL correlated subquery: per-nation top-2 customers by balance.
    * Catalyst rewrites the lateral top-k into a ranked window over one
    * shuffle — no per-outer-row re-execution. */
  def lateralTopK(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("nation_lt")
    t(spark, dir, "customer").createOrReplaceTempView("customer_lt")
    spark.sql(
      """SELECT n_name, t.c_custkey, t.c_acctbal
        |FROM nation_lt, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer_lt
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
  }

  /** TPC-H Q6-style forecast revenue: filter-only aggregate, no grouping.
    * The shape that proves pushdown matters — all three predicates reach
    * the parquet scan, the aggregate is a two-phase partial+final over
    * whatever survives, and the exchange carries ONE row per task. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * pct(col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q10-style returned-items report: which customers returned the
    * most revenue in a window. One fact-fact shuffle (lineitem⋈orders);
    * customer and nation broadcast; deterministic top-20 via
    * TakeOrderedAndProject (revenue desc, custkey tiebreak). */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q4-style order-priority check: COUNT per priority over orders
    * that have at least one qualifying lineitem — the aggregate-over-
    * SEMI-JOIN shape (the reference's commit/receipt columns don't exist
    * in the fixture; `l_returnflag='R'` stands in as the correlated
    * predicate). The semi-join carries only the order keys (no lineitem
    * payload ever crosses the exchange, no row multiplication to
    * de-duplicate); at 100 TB the filter pushes to both scans and the
    * aggregate is 5 groups of partial counts. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val qualifying = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    ord.join(qualifying, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q16-style supplier count: DISTINCT-aggregate over an
    * ANTI-JOIN — suppliers from an exclusion set (negative balance stands
    * in for the reference's complaints filter; the fixture has no
    * partsupp, so lineitem is the part↔supplier association) are removed
    * BEFORE counting distinct suppliers per (brand, size) group. The
    * exclusion set is tiny → broadcast anti-join (no shuffle to
    * exclude); the distinct-aggregate is the one exchange, keyed on the
    * group columns with the supplier id de-duplicated map-side. */
  def q16PartsSupplier(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 4, 9, 14, 23, 36, 45, 49)
    val part = t(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(sizes: _*))
    val excluded = t(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    t(spark, dir, "lineitem")
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H Q14-style promo revenue ratio: conditional-aggregate ratio
    * over ONE broadcast dim join inside a ship-date window. Same numeric
    * discipline as Q8 — exact decimal sums, one double division at the
    * end. At 100 TB the date filter prunes the fact scan, part
    * broadcasts, and the ungrouped aggregate ships two partial decimals
    * per task. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
    val rev = dec(col("l_extendedprice")) * (one - pct(col("l_discount")))
    li.join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
        .otherwise(lit(java.math.BigDecimal.ZERO).cast(DecimalType(12, 4))))
        .cast("double") / sum(rev).cast("double")).as("promo_revenue"))
  }

  /** TPC-H Q22-style global-sales-opportunity: a GLOBAL scalar-aggregate
    * threshold + anti-join + final aggregate. Two fixture adaptations:
    * the anti-join excludes customers with RECENT orders (every fixture
    * customer has some order, and there is no phone column), and the
    * above-average predicate is multiplied through to exact decimals
    * (acctbal > total/n ⟺ acctbal·n > total) — a float `avg` threshold
    * would be summation-order-dependent and break bit parity. The 1-row
    * threshold aggregate broadcasts; the anti-join ships only the recent
    * order keys. */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val threshold = cust.filter(col("c_acctbal") > 0.0)
      .agg(sum(dec(col("c_acctbal"))).as("total"), count(lit(1)).as("n"))
    val recent = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(threshold))
      .filter(dec(col("c_acctbal")) * col("n") > col("total"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q17-style small-quantity revenue: a CORRELATED per-part
    * average threshold, decorrelated into a join against a per-partkey
    * aggregate. Two scale levers: the aggregate input is SEMI-JOIN
    * PRUNED to the filtered part set before grouping (the correlation
    * only ever needs those partkeys — at 100 TB this turns an
    * all-lineitem aggregate into a brand-sized one), and the
    * `qty < 0.2·avg` predicate is multiplied through to exact decimals
    * (5·qty·n < sum) — a float avg would be summation-order-dependent.
    * One double division at the very end. */
  def q17SmallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val pk = t(spark, dir, "part").filter(col("p_brand") === "Brand#23")
      .select("p_partkey")
    val perPart = li
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(dec(col("l_quantity"))).as("sq"), count(lit(1)).as("n"))
    li.join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(lit(5) * dec(col("l_quantity")) * col("n") < col("sq"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** TPC-H Q18-style large-volume orders: a join against a
    * HAVING-filtered aggregate (orders whose total quantity crosses a
    * threshold), then re-aggregation with the customer dims. The
    * qualifying-order key set is small → broadcast semi-join; the only
    * big shuffles are the two l_orderkey aggregates, both with map-side
    * partials. Deterministic top-20 (totalprice desc, orderkey). */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val qualifying = li.groupBy(col("l_orderkey").as("qk"))
      .agg(sum(dec(col("l_quantity"))).as("qty"))
      .filter(col("qty") > lit(java.math.BigDecimal.valueOf(300)).cast(DecimalType(10, 2)))
      .select("qk")
    li.join(broadcast(qualifying), col("l_orderkey") === col("qk"), "left_semi")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q19-style discounted revenue: a DISJUNCTION of cross-table
    * conjunct groups as the join predicate (brand/size/quantity bands —
    * the fixture has no container/shipmode). The part side broadcasts
    * with its brand/size disjuncts evaluated build-side; the
    * per-disjunct quantity bands evaluate as the join's residual
    * condition — no row ever materializes outside its band. One
    * ungrouped exact-decimal aggregate. */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")),
        col("l_partkey") === col("p_partkey") && cond)
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** Approx-quantile sketch with a testable guarantee: per-flag
    * percentile_approx median (Greenwald-Khanna style mergeable sketch,
    * constant memory — the 100 TB path for quantiles) checked against
    * its RANK-ERROR contract: the number of rows <= the approximate
    * median must sit within N/accuracy of N/2. The raw approximate value
    * is engine-specific, so the oracle-checked output is the exact group
    * size plus the deterministic in-envelope flag (same pattern as
    * q_approx_distinct). The 3-row sketch result broadcasts back onto
    * lineitem for the rank count — one pass, no sort. */
  def approxQuantilesEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val acc = 100
    val li = t(spark, dir, "lineitem").select("l_returnflag", "l_extendedprice")
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(acc))
        .as("approx_median"), count(lit(1)).as("n"))
    li.join(broadcast(approx), "l_returnflag")
      .groupBy(col("l_returnflag"), col("n"))
      .agg(sum(when(col("l_extendedprice") <= col("approx_median"), 1L)
        .otherwise(0L)).as("rank_le"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("rank_le") - col("n") / lit(2.0)) <= col("n") / lit(acc) + lit(1.0))
          .as("within_rank_envelope"))
      .orderBy("l_returnflag")
  }

  /** Distribution window functions: per-nation balance quartile (NTILE),
    * percent_rank and cume_dist per customer. Ranking windows shuffle
    * ONCE on the partition key and sort within each partition — the
    * standard distributed plan; the fully-tie-broken ordering (balance,
    * custkey) makes every rank deterministic. */
  def ntileQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(spark, dir, "customer")
      .filter(col("c_nationkey") <= 2)
      .select(col("c_custkey"), col("c_nationkey").cast("int").as("nationkey"),
        col("c_acctbal"),
        ntile(4).over(w).cast("int").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("nationkey", "c_acctbal", "c_custkey")
  }

  /** TPC-H Q2-style correlated-min-over-join: the suppliers of one region
    * holding their nation's MINIMUM account balance. Catalyst decorrelates
    * the scalar-min subquery into an aggregate joined back on the
    * correlation key — one extra pass over supplier, never a per-outer-row
    * re-scan; nation/region ride broadcast joins. */
  def q2MinBalanceSupplier(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "supplier").createOrReplaceTempView("supplier_q2")
    t(spark, dir, "nation").createOrReplaceTempView("nation_q2")
    t(spark, dir, "region").createOrReplaceTempView("region_q2")
    spark.sql(
      """SELECT n_name, s_suppkey, s_name, s_acctbal
        |FROM supplier_q2 s JOIN nation_q2 n ON s_nationkey = n_nationkey
        |JOIN region_q2 r ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND s_acctbal = (SELECT min(s2.s_acctbal) FROM supplier_q2 s2
        |                   WHERE s2.s_nationkey = s.s_nationkey)
        |ORDER BY n_name, s_suppkey""".stripMargin)
  }

  /** Sketch aggregate: HLL++ approximate distinct per group (mergeable,
    * constant memory — the 100 TB path for distinct counts). The raw HLL
    * estimate is engine-specific, so the ORACLE-CHECKED output is the
    * exact count plus `within_5pct`, the deterministic assertion that the
    * estimate landed inside the HLL++ error envelope (the oracle emits a
    * literal TRUE — a drifting sketch breaks the hash match).
    *
    * The estimate and the exact count are two aggregates joined on the
    * flag, not one `agg`: beside `countDistinct`, Spark's distinct
    * rewrite groups the HLL++ partial aggregate by (flag, orderkey) too,
    * one sketch buffer per order (20 s to the full result at sf0.1 on
    * 4 cores, against about 2 s split). */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx"))
    val exact = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_orders"))
    approx.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx") - col("exact_orders")) / col("exact_orders") <= 0.05)
          .as("within_5pct"))
      .orderBy("l_returnflag")
  }

  /** BUCKETED co-located join: both fact tables written `bucketBy` the
    * join key, then joined with ZERO join-side exchanges — the layout
    * strategy that amortizes a recurring large-large join's shuffle
    * into the write (at 100 TB, THE lever for a nightly
    * lineitem⋈orders). The absence of join-side shuffles is asserted AT
    * RUNTIME (the gate fails, not degrades, if bucket info stops
    * propagating); correctness of the bucket-aligned read is what the
    * oracle hash-checks. Only the final 3-group aggregate exchanges.
    *
    * The bucketed tables build ONCE PER JVM (amortized, like the real
    * deployment's nightly layout): repeat calls reuse them, so under the
    * bench's median-of-3 discipline the reported number measures the
    * ZERO-EXCHANGE JOIN, not the one-time write it amortizes (the
    * round-4 number conflated the two). */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = GraftSession.tag(dir)
    val (lt, ot) = (s"li_bkt_$tag", s"ord_bkt_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!spark.catalog.tableExists(lt) || !spark.catalog.tableExists(ot)) {
      Seq(lt, ot).foreach { tbl =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        // the in-memory catalog resets per JVM but warehouse dirs persist
        fs.delete(new org.apache.hadoop.fs.Path(
          s"${spark.sessionState.conf.warehousePath}/$tbl"), true)
      }
      t(spark, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
      t(spark, dir, "orders").select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
    }
    val joined = spark.table(lt)
      .join(spark.table(ot).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
    val shuffles = joined.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    require(shuffles <= 1,
      s"bucketed join must not shuffle its inputs (found $shuffles exchanges)")
    joined
  }

  /** MULTI-COLUMN CLUSTERING interplay: ONE fact layout carries BOTH
    * write-time levers at once — `bucketBy(l_suppkey)` (kills the
    * recurring dim-join's exchanges) and a two-column in-bucket
    * `sortBy(l_suppkey, l_orderkey)` (keeps every row group's
    * l_orderkey envelope narrow, so the range predicate skips row
    * groups INSIDE each bucket file via pushed-down min/max). The two
    * compose because bucketing decides file placement and the sort
    * decides order within the file — neither constrains the other. At
    * 100 TB this is the nightly-fact layout: join co-location AND
    * selective-scan pruning from one write. Zero join-side exchanges
    * asserted at runtime (the gate fails, not degrades); the row-group
    * skipping magnitude vs an unsorted twin is measured in
    * ClusteringSpec. Tables build once per JVM, like [[bucketedJoin]]:
    * the benched number is the steady-state query, not the write. */
  def clusteredJoinScan(spark: SparkSession, dir: String): DataFrame = {
    val tag = GraftSession.tag(dir)
    val (lt, st) = (s"li_clus_$tag", s"sup_clus_$tag")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!spark.catalog.tableExists(lt) || !spark.catalog.tableExists(st)) {
      Seq(lt, st).foreach { tbl =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        fs.delete(new org.apache.hadoop.fs.Path(
          s"${spark.sessionState.conf.warehousePath}/$tbl"), true)
      }
      t(spark, dir, "lineitem")
        .select("l_suppkey", "l_orderkey", "l_extendedprice")
        .repartition(8, col("l_suppkey")) // one file per bucket
        .write.mode("overwrite")
        .bucketBy(8, "l_suppkey").sortBy("l_suppkey", "l_orderkey")
        .saveAsTable(lt)
      t(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
        .write.mode("overwrite").bucketBy(8, "s_suppkey").sortBy("s_suppkey")
        .saveAsTable(st)
    }
    val joined = spark.table(lt)
      .filter(col("l_orderkey") <= 7500) // the sort-column range slice
      .join(spark.table(st).hint("merge"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("s_nationkey")
    val shuffles = joined.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    require(shuffles <= 1,
      s"clustered join must not shuffle its inputs (found $shuffles exchanges)")
    joined
  }

  /** Sketch SET OPERATIONS: per-event-type Apache DataSketches HLL
    * sketches of the user set, then a UNION of all types performed on
    * the SKETCHES alone (`hll_union_agg`) — the 100 TB pattern for
    * cross-source/cross-partition distinct counts: build once per
    * source, merge in constant memory, never re-read the data. As with
    * q_approx_distinct, the raw estimates are engine-specific, so the
    * oracle-checked output is the exact count plus the deterministic
    * in-envelope flag (HLL lgK=12 → well under 3% at these
    * cardinalities; a drifting sketch breaks the hash match). */
  def sketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val perType = ev.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
    def flag(est: Column, exact: Column): Column =
      (abs(est.cast("double") - exact.cast("double")) / exact.cast("double")
        <= 0.03).as("within_3pct")
    val typed = perType.select(col("event_type").as("scope"), col("exact_users"),
      flag(hll_sketch_estimate(col("sk")), col("exact_users")))
    val union = perType.agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(broadcast(ev.agg(countDistinct(col("user_id")).as("exact_users"))))
      .select(lit("union:all").as("scope"), col("exact_users"),
        flag(hll_sketch_estimate(col("sk")), col("exact_users")))
    typed.unionByName(union).orderBy("scope")
  }

  /** JSON-path analytics over a semi-structured column: extract a field
    * from the events' JSON props and aggregate it per type — the
    * schema-on-read shape (at scale, prefer promoting hot JSON fields to
    * columns at ingest; this is the exploratory path that discovers
    * them). `get_json_object` is codegen'd; one small aggregate. */
  def jsonExtractAgg(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    t(spark, dir, "events")
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** ARGMAX via struct-ordering aggregate: each user's LATEST event in
    * ONE hash aggregate — `max(struct(ts, event_id, payload...))`
    * compares field-by-field, so the payload rides along with the max
    * key and no ranking window / second pass is needed. The single
    * shuffle carries one struct per (task, user): the map-side-combined
    * plan a 100 TB "latest state per key" query wants. Tie-broken by
    * event_id → fully deterministic. */
  def argmaxLatest(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("last_ev"))
      .select(col("user_id"),
        col("last_ev.event_id").as("last_event_id"),
        col("last_ev.event_type").as("last_event_type"))
      .orderBy("user_id")

  /** Range join (non-equi): lineitems shipped within 30 days of ANY of
    * the first 20 orders' dates — no key equality. Composed as a binned
    * equi-join (RangeJoin), never a nested-loop scan. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val ords = t(spark, dir, "orders").filter(col("o_orderkey") <= 20)
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("start"),
        (unix_timestamp(col("o_orderdate")) + lit(30 * day)).as("end"))
    val pts = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        unix_timestamp(col("l_shipdate")).as("pt"))
    graft.operators.RangeJoin.pointInInterval(pts, ords,
      col("pt"), col("start"), col("end"), binSeconds = 15 * day)
      .select("o_orderkey", "l_orderkey", "l_linenumber")
      .orderBy("o_orderkey", "l_orderkey", "l_linenumber")
  }

  /** Exact interpolated percentiles per group (the sort-based exact
    * path; the sketch path for scale is approx_percentile). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.25)").as("p25_price"))
      .orderBy("l_returnflag")

  /** Column profiling: exact per-column stats (the df.summary()/crawler
    * statistics analog) — counts, null counts, min/max (exact element
    * picks, no float arithmetic). One pass, partial-aggregated. */
  def profileLineitem(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(when(col("l_returnflag").isNull, 1).otherwise(0)).cast("long").as("null_returnflag"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"), max(col("l_extendedprice")).as("max_price"),
        min(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("min_shipdate"),
        max(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("max_shipdate"))

  /** FULL OUTER join with null-coalescing: nations by customer count vs
    * supplier count (some nations have only one side). */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val su = t(spark, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(su, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  /** TPC-H Q9-style product-type profit: profit per supplier nation per
    * order year for a part-name-filtered slice. The fixture has no
    * partsupp, so unit cost is derived as 10% of p_retailprice (exact
    * decimal — the SHAPE is the point: a 5-way join where every
    * dimension broadcasts and lineitem⋈orders is the single fact-fact
    * shuffle, then a small two-key aggregate). The name filter prunes
    * part BEFORE the broadcast, which in turn prunes lineitem at the
    * join — at 100 TB the filtered-part broadcast is the lever that
    * keeps this from being a full-fact-table aggregate. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part").filter(col("p_name").contains("gear"))
      .select("p_partkey", "p_retailprice")
    val cost = dec(col("p_retailprice")) *
      lit(java.math.BigDecimal.valueOf(0.10)).cast(DecimalType(3, 2)) *
      dec(col("l_quantity"))
    t(spark, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))) - cost)
        .cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11-style important stock: per-part value share with a HAVING
    * against a GLOBAL scalar aggregate (parts holding > 1/500 of total
    * value; lineitem revenue of one nation's suppliers stands in for
    * partsupp supplycost×availqty). The share predicate is evaluated in
    * exact integer CENTS multiplied through (v·500 > total) — a float
    * fraction would be summation-order-dependent. Supplier set
    * broadcasts as a semi-join; the single big shuffle is the per-part
    * aggregate; the 1-row total broadcasts back. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val nsupp = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3").select("s_suppkey")
    val value = t(spark, dir, "lineitem")
      .join(broadcast(nsupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("v"))
    val total = value.agg((sum(col("v")) * 100).cast("long").as("total_cents"))
    value.crossJoin(broadcast(total))
      .filter((col("v") * 100).cast("long") * 500 > col("total_cents"))
      .select(col("l_partkey"), col("v").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q12-style shipping-priority bands: conditional (CASE-sum)
    * aggregation over late lineitems — shipped > 90 days after the order
    * date (the fixture has no shipmode/commit/receipt columns;
    * l_returnflag stands in for the shipmode group). Lateness compares
    * epoch SECONDS (timezone-proof, same on both engines); the only
    * shuffle is lineitem⋈orders, and the date filter pushes to the
    * lineitem scan. */
  def q12LateShipments(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate"))
        > 90L * 86400L)
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).cast("long").as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).cast("long").as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q13-style customer order-count distribution: LEFT OUTER join
    * with the filter INSIDE the join condition (customers with zero
    * qualifying orders must survive with count 0), then a second
    * aggregate over the counts — the classic two-level distribution
    * shape. First shuffle on custkey, second on the tiny count domain. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    t(spark, dir, "customer")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15-style top supplier: a revenue view over a 3-month window,
    * then suppliers whose revenue EQUALS the view's global max — the
    * scalar-max-over-aggregate shape. The equality is on the exact
    * DECIMAL sums (deterministic; a float max could tie-break wrongly).
    * One shuffle for the per-supplier aggregate; the 1-row max and the
    * 100-row supplier dim both broadcast. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * (one - pct(col("l_discount"))))
        .as("rev"))
    val mx = rev.agg(max(col("rev")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev") === col("max_rev"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q20-style dominant suppliers: suppliers shipping more than
    * HALF of a focus part's total 1997 volume (no partsupp availqty in
    * the fixture, so the share-of-part threshold keeps Q20's
    * nested-aggregate semantics). The per-part total is a WINDOW sum
    * over the (part, supplier) aggregate — one extra exchange on
    * l_partkey, never a self-join back; the threshold compares exact
    * decimals multiplied through (2·supp > part). Focus parts broadcast
    * as a semi-join before any aggregation. */
  def q20DominantSupplier(spark: SparkSession, dir: String): DataFrame = {
    val focus = t(spark, dir, "part").filter(col("p_name").startsWith("small"))
      .select("p_partkey")
    val sq = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(focus), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("supp_qty"))
    sq.withColumn("part_qty",
        sum(col("supp_qty")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("supp_qty") * 2 > col("part_qty"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name")).distinct()
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21-style suppliers-who-kept-orders-waiting: for finished
    * multi-supplier orders, count per supplier the orders where it was
    * the ONLY late supplier (shipped > 60 days after the order date —
    * the fixture's receipt/commit stand-in). The EXISTS / NOT-EXISTS
    * pair decorrelates into ONE per-order aggregate: distinct supplier
    * count, distinct LATE supplier count, and (when unique) that late
    * supplier's key — a single orderkey shuffle instead of two
    * self-join passes over lineitem; at 100 TB that halves the fact
    * traffic. Deterministic top-20 (numwait desc, name). */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val late = unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate")) >
      60L * 86400L
    val perOrder = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), late.as("is_late"))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("is_late"), col("l_suppkey"))).as("n_late"),
        max(when(col("is_late"), col("l_suppkey"))).as("late_supp"))
    perOrder.filter(col("n_supp") >= 2 && col("n_late") === 1)
      .join(broadcast(t(spark, dir, "supplier")), col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Data-quality constraint audit (the Deequ-style validation suite a
    * lake runs before publishing a table): one row per declared
    * constraint with (rows checked, violations, pass). Cost discipline
    * for 100 TB: ALL per-row constraints on a table are folded into ONE
    * scan's conditional aggregates (lineitem is read once for its three
    * rules, orders once for its two), uniqueness is a key-grouped count
    * (the one unavoidable shuffle, map-side combined to |keys|), and
    * referential integrity is a single orderkey-shuffled anti-join —
    * no per-constraint passes. The per-table single-row aggregates are
    * assembled with broadcast-scalar crossJoins and unpivoted with
    * `stack`, so the report itself is metadata-scale. */
  def dqAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val liAgg = li.agg(
      count(lit(1)).as("li_n"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_li_null"),
      sum(when(col("l_quantity").between(1.0, 50.0), 0L).otherwise(1L))
        .as("v_li_qty"),
      sum(when(col("l_discount").between(0.0, 0.10), 0L).otherwise(1L))
        .as("v_li_disc"))
    val ordAgg = ord.agg(
      count(lit(1)).as("ord_n"),
      sum(when(col("o_orderstatus").isin("F", "O", "P"), 0L).otherwise(1L))
        .as("v_ord_status"))
    val dupAgg = ord.groupBy(col("o_orderkey")).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(when(col("cnt") > 1, col("cnt") - 1L)), lit(0L))
        .as("v_ord_dup"))
    val orphanAgg = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v_li_orphan"))
    liAgg.crossJoin(ordAgg).crossJoin(dupAgg).crossJoin(orphanAgg)
      .select(expr(
        """stack(6,
          |  'not_null:lineitem.l_orderkey',        li_n,  v_li_null,
          |  'range:lineitem.l_quantity[1,50]',     li_n,  v_li_qty,
          |  'range:lineitem.l_discount[0,0.1]',    li_n,  v_li_disc,
          |  'domain:orders.o_orderstatus{F,O,P}',  ord_n, v_ord_status,
          |  'unique:orders.o_orderkey',            ord_n, v_ord_dup,
          |  'ref:lineitem.l_orderkey->orders',     li_n,  v_li_orphan
          |) AS (constraint_name, checked, violations)""".stripMargin))
      .withColumn("pass", col("violations") === 0L)
      .orderBy("constraint_name")
  }

  /** SCD TYPE-2 interval build from a change log: collapse each user's
    * consecutive same-value runs of `event_type` into
    * [valid_from, valid_to) versions with an `is_current` flag — the
    * standard islands construction (lag → change flag → running group id
    * → group bounds). Three window passes over ONE (user_id)-shuffled
    * sort; at 100 TB the event log shuffles once on the entity key and
    * every window reuses that partitioning (no extra exchanges — the
    * sort order (ts, event_id) serves all three frames). Tiebreak on
    * event_id makes same-timestamp rows deterministic. */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = t(spark, dir, "events")
      .filter(col("user_id") <= 200)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wg = Window.partitionBy(col("user_id")).orderBy(col("grp"))
    runs.groupBy(col("user_id"), col("grp"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wg))
      .withColumn("is_current", col("valid_to").isNull)
      .select("user_id", "event_type", "valid_from", "valid_to",
        "is_current", "n_events")
      .orderBy("user_id", "valid_from")
  }

  /** SCAN-LEVEL AGGREGATE PUSHDOWN: MIN/MAX/COUNT answered from parquet
    * footer statistics through the DSv2 reader — the scan reads row-group
    * METADATA, not data pages (`.explain` shows `PushedAggregation:
    * [MIN(l_orderkey), MAX(l_orderkey), COUNT(*)]`; asserted in
    * `PlanSpec`). At 100 TB this is the difference between a metadata
    * pass (O(row groups)) and a full-column scan for table-profiling
    * queries. Pushdown is a DSv2-only optimizer rule gated on session
    * confs, and it happens at EXECUTION time — so this entry materializes
    * its one result row inside an isolated child session carrying the
    * confs, rather than returning a lazy plan that would silently lose
    * the pushdown when the confs revert. */
  def scanAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    // the DSv2 switch runs in an ISOLATED child session (shared
    // SparkContext, private SQLConf): mutating the caller's session-wide
    // useV1SourceList would silently re-plan any concurrently-planned
    // file-source query through DSv2 for the duration of the window
    val iso = spark.newSession()
    iso.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    iso.conf.set("spark.sql.sources.useV1SourceList", "") // parquet through DSv2
    val row =
      iso.read.parquet(s"$dir/lineitem.parquet")
        .agg(min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"),
          count(lit(1)).as("n_rows"))
        .collect()
    spark.createDataFrame(
      java.util.Arrays.asList(row: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("min_okey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("max_okey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType))))
  }

  /** SALTED two-phase aggregation gated against the plain group-by: the
    * skew playbook made checkable. events.event_type has 5 values over
    * ~100k rows — the worst-case hot-key shape — so the direct groupBy
    * sends each key's entire mass to one reducer; the salted form
    * partial-aggregates per (key, content-salt) first, then merges
    * |keys × saltN| rows. Decimal sums re-merge exactly, so the result
    * is bit-equal to the direct aggregate (that equality IS this gate).
    * The salt is a content hash — retry-stable, unlike rand()
    * (SPARK-23207). */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedSumCount(
      t(spark, dir, "events"), "event_type", dec(col("value")))
      .select(col("event_type"),
        col("sum_value").cast("double").as("sum_value"), col("cnt"))
      .orderBy("event_type")

  /** ZONE-MAP data skipping gated end-to-end: lineitem rewritten
    * range-clustered on l_orderkey (8 near-disjoint file ranges), the
    * per-file (min, max) index built in one map-side-aggregated scan,
    * and a selective range query planned against it — files whose
    * envelope misses the range are never LISTED (the layer between
    * directory-level partition pruning and intra-file row-group stats).
    * `requirePruned = true` makes the skipping itself part of the gate:
    * a hash-scattered layout (no pruning possible) fails loud instead
    * of silently scanning everything. The oracle is the plain filtered
    * aggregate — zone maps must never change answers, only I/O. */
  def zoneMapScan(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "zmap", dir)
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .repartitionByRange(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(root)
    val stats = graft.operators.ZoneMap.buildStats(spark, root, "l_orderkey")
    graft.operators.ZoneMap.prunedRangeRead(spark, stats, "l_orderkey",
      lo = 100L, hi = 500L, requirePruned = true)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("l_orderkey")
  }

  /** Z-ORDER × ZONE-MAP TWO-DIMENSIONAL PRUNING gated end-to-end:
    * lineitem rewritten along the Morton curve over (l_partkey,
    * l_suppkey) ([[graft.operators.ZOrder.zOrdered]]), per-file (min,
    * max) envelopes built for BOTH columns in one scan, and a selective
    * 2-D box query planned against them — files are skipped when EITHER
    * dimension's envelope misses its range, which only a bit-interleaved
    * layout delivers (a linear sort prunes on the sort column alone;
    * the other column's envelopes straddle every file).
    * `requirePruned = true` gates the skipping itself; the
    * both-dimensions claim (each single-dimension range already prunes
    * files on this layout) is asserted in ZOrderSpec. The oracle is the
    * plain filtered aggregate — layout and index must never change
    * answers, only I/O. */
  def zOrderZoneMapScan(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "zzmap", dir)
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    graft.operators.ZOrder.zOrdered(li, "l_partkey", "l_suppkey", bits = 8,
        numFiles = Some(16))
      .drop("z_key")
      .write.mode("overwrite").parquet(root)
    val Seq(pLo, pHi, sLo, sHi) = li.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head().toSeq
      .map(_.asInstanceOf[Number].longValue)
    // a ~quarter-width box on each dimension: selective on both at once
    val box = Seq(
      ("l_partkey", pLo, pLo + (pHi - pLo) / 4),
      ("l_suppkey", sLo, sLo + (sHi - sLo) / 4))
    val stats = graft.operators.ZoneMap.buildStatsMulti(spark, root,
      Seq("l_partkey", "l_suppkey"))
    graft.operators.ZoneMap.prunedBoxRead(spark, stats, box,
      requirePruned = true)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("l_suppkey")
  }

  /** FILE-LEVEL BLOOM DATA SKIPPING ([[graft.operators.BloomIndex]]) —
    * the equality complement of [[zoneMapScan]]: the layout here is
    * HASH-scattered (the case where every file's [min,max] envelope
    * straddles any probe and zone maps keep everything), yet the
    * per-file bloom prunes the point-lookup IN-list to the few owning
    * files (`requirePruned` asserts it). The exact `isin` re-filter
    * inside the survivors makes false positives a cost, never a wrong
    * row — so the DuckDB full-scan oracle certifies the whole
    * build/probe hash agreement. */
  def bloomScan(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "bloom", dir)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(root)
    val idx = graft.operators.BloomIndex.buildIndex(spark, root, "doc_id")
    graft.operators.BloomIndex.prunedInRead(spark, idx, "doc_id",
      Seq(7L, 123L, 400L), requirePruned = true)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** COMPOSED BLOOM × ZONE-MAP SKIPPING gated end-to-end
    * ([[graft.operators.ComposedScan]]): events rewritten range-clustered
    * on event_id (zone maps serve the range cut), a per-file bloom built
    * on user_id (membership cut, independent of layout), and a
    * conjunctive `user_id IN (…) AND event_id BETWEEN …` read planned
    * against the INTERSECTION of both candidate sets — the lakehouse
    * metadata-stacking pattern as an explicit operator. The oracle is
    * the plain filtered aggregate; ComposedScanSpec asserts the
    * intersection strictly beats each index alone at this layout. */
  def composedScan(spark: SparkSession, dir: String): DataFrame = {
    val root = freshDir(spark, "cmps", dir)
    // layout: range-clustered on the user COHORT (zone maps serve the
    // range cut); the bloom indexes the near-unique event_id (membership
    // pruning needs key cardinality >> rows-per-file — the ~150-user
    // column would appear in every file and blooms would keep all)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartitionByRange(16, col("user_id"))
      .write.mode("overwrite").parquet(root)
    val bloom = graft.operators.BloomIndex.buildIndex(spark, root, "event_id")
    val stats = graft.operators.ZoneMap.buildStats(spark, root, "user_id")
    graft.operators.ComposedScan.bloomZoneRead(spark, bloom, "event_id",
      Seq(123L, 457L, 7891L, 2222L, 5005L), stats, "user_id",
      lo = 10L, hi = 60L, requirePruned = true)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .orderBy("event_id")
  }

  /** K-ANONYMITY RISK REPORT — the re-identification audit run before
    * releasing a "de-identified" extract (complements the masked-view
    * RLS/pseudonymization surface): rows are grouped by their
    * quasi-identifier tuple (event type, day, 50-unit value band) and
    * every equivalence class smaller than k=5 is flagged — those rows
    * are linkable even with direct identifiers removed. One grouped
    * conditional aggregate (map-side combined to |classes| rows); at
    * 100 TB the class count is bounded by the QI domain, not the row
    * count. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (floor(col("value") / 50.0) * 50).cast("long").as("value_band"))
      .groupBy("event_type", "day", "value_band")
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < 5)
      .orderBy("event_type", "day", "value_band")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Entries.toMapUnique("Analytics.queries", Seq(
    "q_outer_join" -> (outerJoin _),
    "q_profile" -> (profileLineitem _),
    "q_quantiles" -> (quantiles _),
    "q_range_join" -> (rangeJoin _),
    "q_pivot" -> (pivotEvents _),
    "q_correlated_subquery" -> (correlatedSubquery _),
    "q_exists_select" -> (existsSelect _),
    "q_lateral_topk" -> (lateralTopK _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_sketch_union" -> (sketchUnion _),
    "q_bucketed_join" -> (bucketedJoin _),
    "q_clustered_join_scan" -> (clusteredJoinScan _),
    "q_json_extract" -> (jsonExtractAgg _),
    "q_unpivot" -> (unpivotEvents _),
    "q_argmax_latest" -> (argmaxLatest _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q_semi_anti_join" -> (semiAntiJoin _),
    "q_window_topk" -> (windowTopKPerCustomer _),
    "q_ntile_quartiles" -> (ntileQuartiles _),
    "q_approx_quantiles" -> (approxQuantilesEnvelope _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q16_parts_supplier" -> (q16PartsSupplier _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q22_global_sales" -> (q22GlobalSales _),
    "q17_small_qty_revenue" -> (q17SmallQuantityRevenue _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q12_late_shipments" -> (q12LateShipments _),
    "q13_customer_distribution" -> (q13CustomerDistribution _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q20_dominant_supplier" -> (q20DominantSupplier _),
    "q21_waiting_supplier" -> (q21WaitingSupplier _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q2_min_balance_supplier" -> (q2MinBalanceSupplier _),
    "q_running_revenue" -> (runningRevenue _),
    "q_rollup" -> (rollupQuantity _),
    "q_cube_events" -> (cubeEvents _),
    "q_grouping_sets" -> (groupingSetsOrders _),
    "q_range_frame" -> (rangeFrameRevenue _),
    "q_zorder_key" -> (zOrderKeyQuery _),
    "q_lag_lead" -> (lagLeadOrders _),
    "q_set_ops" -> (setOps _),
    "q_topk" -> (topKExpensive _),
    "q_distinct_agg" -> (distinctAgg _),
    "q_hourly_events" -> (hourlyEventStats _),
    "q_sessionize" -> (sessionize _),
    "q_gap_fill" -> (gapFillHourly _),
    "q_cohort_retention" -> (cohortRetention _),
    "q_funnel" -> (funnel _),
    "q_anomaly" -> (anomalyHours _),
    "q_sample_estimate" -> (sampleEstimate _),
    "q_skew_report" -> (skewReport _),
    "q_dq_audit" -> (dqAudit _),
    "q_scd2_intervals" -> (scd2Intervals _),
    "q_scan_agg_pushdown" -> (scanAggPushdown _),
    "q_salted_agg" -> (saltedAgg _),
    "q_zonemap_scan" -> (zoneMapScan _),
    "q_zorder_zonemap_scan" -> (zOrderZoneMapScan _),
    "q_bloom_scan" -> (bloomScan _),
    "q_composed_scan" -> (composedScan _),
    "q_kanonymity" -> (kAnonymity _),
    "q_federated_join" -> (federatedJoin _)))

  val oracles: Map[String, String] =
    Entries.toMapUnique("Analytics.oracles", Seq(
    "q_kanonymity" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(floor(value / 50) * 50 AS BIGINT) AS value_band,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  count(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY event_type, day, value_band""".stripMargin,
    "q_zonemap_scan" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 500
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_zorder_zonemap_scan" ->
      """WITH b AS (
        |  SELECT min(l_partkey) AS p_lo,
        |    min(l_partkey) + (max(l_partkey) - min(l_partkey)) // 4 AS p_hi,
        |    min(l_suppkey) AS s_lo,
        |    min(l_suppkey) + (max(l_suppkey) - min(l_suppkey)) // 4 AS s_hi
        |  FROM lineitem)
        |SELECT l_suppkey, count(*) AS n_lines,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN p_lo AND p_hi
        |  AND l_suppkey BETWEEN s_lo AND s_hi
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q_bloom_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (7, 123, 400) ORDER BY doc_id""".stripMargin,
    "q_composed_scan" ->
      """SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value
        |FROM events
        |WHERE event_id IN (123, 457, 7891, 2222, 5005)
        |  AND user_id BETWEEN 10 AND 60
        |ORDER BY event_id""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_scan_agg_pushdown" ->
      """SELECT CAST(min(l_orderkey) AS BIGINT) AS min_okey,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_okey,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem""".stripMargin,
    "q_dq_audit" ->
      """WITH li AS (
        |  SELECT count(*) AS li_n,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null,
        |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS v_qty,
        |    sum(CASE WHEN l_discount BETWEEN 0 AND 0.10 THEN 0 ELSE 1 END) AS v_disc
        |  FROM lineitem),
        |o AS (
        |  SELECT count(*) AS ord_n,
        |    sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS v_status
        |  FROM orders),
        |dup AS (
        |  SELECT coalesce(sum(cnt - 1), 0) AS v_dup FROM (
        |    SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey) WHERE cnt > 1),
        |orph AS (
        |  SELECT count(*) AS v_orphan FROM lineitem l
        |  LEFT JOIN orders ON l.l_orderkey = o_orderkey
        |  WHERE o_orderkey IS NULL)
        |SELECT constraint_name, CAST(checked AS BIGINT) AS checked,
        |  CAST(violations AS BIGINT) AS violations, violations = 0 AS pass
        |FROM (
        |  SELECT 'not_null:lineitem.l_orderkey' AS constraint_name,
        |    li_n AS checked, v_null AS violations FROM li
        |  UNION ALL SELECT 'range:lineitem.l_quantity[1,50]', li_n, v_qty FROM li
        |  UNION ALL SELECT 'range:lineitem.l_discount[0,0.1]', li_n, v_disc FROM li
        |  UNION ALL SELECT 'domain:orders.o_orderstatus{F,O,P}', ord_n, v_status FROM o
        |  UNION ALL SELECT 'unique:orders.o_orderkey', ord_n, v_dup FROM o, dup
        |  UNION ALL SELECT 'ref:lineitem.l_orderkey->orders', li_n, v_orphan
        |    FROM li, orph)
        |ORDER BY constraint_name""".stripMargin,
    "q_scd2_intervals" ->
      """WITH runs AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events WHERE user_id <= 200
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |grps AS (
        |  SELECT user_id, ts, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM runs),
        |iv AS (
        |  SELECT user_id, grp, min(event_type) AS event_type,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM grps GROUP BY user_id, grp)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp) AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY grp) IS NULL
        |    AS is_current,
        |  n_events
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  CAST(1 AS BOOLEAN) AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_unpivot" ->
      """WITH t AS (SELECT DISTINCT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant FROM events),
        |e AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant, event_type,
        |        count(*) AS cnt
        |      FROM events GROUP BY 1, 2)
        |SELECT t.tenant, e.event_type, COALESCE(c.cnt, 0) AS cnt
        |FROM t CROSS JOIN e
        |LEFT JOIN c ON c.tenant = t.tenant AND c.event_type = e.event_type
        |ORDER BY t.tenant, e.event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_argmax_latest" ->
      """SELECT user_id,
        |  (last_ev).event_id AS last_event_id,
        |  (last_ev).event_type AS last_event_type
        |FROM (
        |  SELECT user_id,
        |    max(row(ts, event_id, event_type)
        |      ::STRUCT(ts TIMESTAMP, event_id BIGINT, event_type VARCHAR)) AS last_ev
        |  FROM events GROUP BY 1)
        |ORDER BY user_id""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_clustered_join_scan" ->
      """SELECT s_nationkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_orderkey <= 7500
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sketch_union" ->
      """SELECT event_type AS scope, count(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BOOLEAN) AS within_3pct
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT 'union:all', count(DISTINCT user_id), CAST(1 AS BOOLEAN)
        |FROM events
        |ORDER BY scope""".stripMargin,
    "q_lateral_topk" ->
      """SELECT n_name, t.c_custkey, t.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin,
    "q_exists_select" ->
      """SELECT c_custkey,
        |  EXISTS(SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |           AND o.o_totalprice > 100000) AS has_big_order
        |FROM customer c ORDER BY c_custkey""".stripMargin,
    "q_outer_join" ->
      """SELECT nationkey,
        |  COALESCE(n_customers, 0) AS n_customers,
        |  COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
        |      FROM supplier GROUP BY 1) s USING (nationkey)
        |ORDER BY nationkey""".stripMargin,
    "q_profile" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_shipdate,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_shipdate
        |FROM lineitem""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_range_join" ->
      """SELECT o_orderkey, l_orderkey, l_linenumber
        |FROM orders JOIN lineitem
        |  ON CAST(floor(epoch(l_shipdate)) AS BIGINT)
        |       >= CAST(floor(epoch(o_orderdate)) AS BIGINT)
        | AND CAST(floor(epoch(l_shipdate)) AS BIGINT)
        |       < CAST(floor(epoch(o_orderdate)) AS BIGINT) + 2592000
        |WHERE o_orderkey <= 20
        |ORDER BY o_orderkey, l_orderkey, l_linenumber""".stripMargin,
    "q_pivot" ->
      """SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY tenant""".stripMargin,
    "q_correlated_subquery" ->
      """SELECT c_custkey, c_acctbal FROM customer c1
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-11-30'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q8_market_share" ->
      """SELECT strftime(o_orderdate, '%Y') AS o_year,
        |  CAST(SUM(CASE WHEN n_name = 'NATION_9'
        |    THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    strftime(l_shipdate, '%Y') AS l_year, l_extendedprice, l_discount
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
        |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9')))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))
        |  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |  AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand='Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |agg AS (
        |  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(10,2))) AS sq,
        |    COUNT(*) AS n
        |  FROM lineitem SEMI JOIN pk ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM lineitem JOIN pk ON l_partkey = p_partkey JOIN agg USING (l_partkey)
        |WHERE 5 * CAST(l_quantity AS DECIMAL(10,2)) * n < sq""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(10,2))) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS total_qty
        |FROM lineitem
        |JOIN big USING (l_orderkey)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin,
    "q22_global_sales" ->
      """WITH pos AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS total, COUNT(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS totacctbal
        |FROM customer, pos
        |WHERE CAST(c_acctbal AS DECIMAL(10,2)) * n > total
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |         - CAST(p_retailprice AS DECIMAL(10,2)) * CAST(0.10 AS DECIMAL(3,2)) * CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
      """WITH nsupp AS (
        |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'),
        |val AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS v
        |  FROM lineitem SEMI JOIN nsupp ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(v) * 100 AS BIGINT) AS total_cents FROM val)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
        |FROM val, tot
        |WHERE CAST(v * 100 AS BIGINT) * 500 > total_cents
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q12_late_shipments" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE CAST(floor(epoch(l_shipdate)) AS BIGINT)
        |      - CAST(floor(epoch(o_orderdate)) AS BIGINT) > 90 * 86400
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q20_dominant_supplier" ->
      """WITH focus AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |sq AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(10,2))) AS supp_qty
        |  FROM lineitem SEMI JOIN focus ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |wq AS (
        |  SELECT l_suppkey, supp_qty,
        |    SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
        |  FROM sq)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM wq JOIN supplier ON s_suppkey = l_suppkey
        |WHERE supp_qty * 2 > part_qty
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(floor(epoch(l_shipdate)) AS BIGINT)
        |      - CAST(floor(epoch(o_orderdate)) AS BIGINT) > 60 * 86400 AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |po AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late,
        |    max(CASE WHEN is_late THEN l_suppkey END) AS late_supp
        |  FROM l GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q16_parts_supplier" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "q_semi_anti_join" ->
      """SELECT c_custkey, c_name, 'has_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey, tag""".stripMargin,
    "q_approx_quantiles" ->
      """SELECT l_returnflag, count(*) AS n, TRUE AS within_rank_envelope
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_ntile_quartiles" ->
      """SELECT c_custkey, CAST(c_nationkey AS INT) AS nationkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM customer WHERE c_nationkey <= 2
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY nationkey, c_acctbal, c_custkey""".stripMargin,
    "q2_min_balance_supplier" ->
      """SELECT n_name, s_suppkey, s_name, s_acctbal
        |FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
        |JOIN region r ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND s_acctbal = (SELECT min(s2.s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = s.s_nationkey)
        |ORDER BY n_name, s_suppkey""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_running_revenue" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    OVER (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS cnt,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        |ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY CAST(epoch(l_shipdate) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    // Morton key rebuilt bit-by-bit: scale both dims with integer DIV,
    // then sum interleaved bit terms — certifies ZOrder.zKey exactly
    "q_zorder_key" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey <= 200),
        |r AS (SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
        |             min(l_suppkey) AS ylo, max(l_suppkey) AS yhi FROM li),
        |sc AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN xhi = xlo THEN 0 ELSE (CAST(l_partkey - xlo AS BIGINT) * 255) // (xhi - xlo) END AS xs,
        |    CASE WHEN yhi = ylo THEN 0 ELSE (CAST(l_suppkey - ylo AS BIGINT) * 255) // (yhi - ylo) END AS ys
        |  FROM li, r)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(range(0, 8), b ->
        |    (((xs >> b) & 1) << (2*b+1)) + (((ys >> b) & 1) << (2*b)))) AS BIGINT) AS z_key
        |FROM sc ORDER BY z_key, l_orderkey, l_linenumber""".stripMargin,
    "q_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_ok,
        |  lead(o_orderkey) OVER w AS next_ok,
        |  CAST(CAST(o_totalprice AS DECIMAL(10,2))
        |    - lag(CAST(o_totalprice AS DECIMAL(10,2))) OVER w AS DOUBLE) AS price_delta
        |FROM orders WHERE o_custkey <= 20
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_cube_events" ->
      """SELECT event_type, 't' || CAST(user_id % 3 AS VARCHAR) AS tenant,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
        |  CAST(GROUPING(event_type, tenant) AS INT) AS gid
        |FROM events GROUP BY CUBE (event_type, tenant)
        |ORDER BY gid, event_type ASC NULLS FIRST, tenant ASC NULLS FIRST""".stripMargin,
    "q_set_ops" ->
      """SELECT nationkey, 'both' AS tag FROM
        |  (SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |   INTERSECT SELECT CAST(s_nationkey AS INT) FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS tag FROM
        |  (SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |   EXCEPT SELECT CAST(s_nationkey AS INT) FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'supplier_only' AS tag FROM
        |  (SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |   EXCEPT SELECT CAST(c_nationkey AS INT) FROM customer)
        |ORDER BY tag, nationkey""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 15""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_hourly_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_start, event_type,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx
        |  FROM events),
        |hourly AS (
        |  SELECT event_type, hour_idx, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT min(hour_idx) AS h_min, max(hour_idx) AS h_max FROM ev),
        |spine AS (
        |  SELECT t.event_type,
        |    CAST(unnest(generate_series(h_min, h_max)) AS BIGINT) AS hour_idx
        |  FROM (SELECT DISTINCT event_type FROM ev) t, bounds),
        |j AS (
        |  SELECT s.event_type, s.hour_idx, coalesce(n, CAST(0 AS BIGINT)) AS n,
        |    hourly.n AS raw_n
        |  FROM spine s LEFT JOIN hourly USING (event_type, hour_idx))
        |SELECT event_type, hour_idx, n,
        |  last_value(raw_n IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY hour_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS n_ffill
        |FROM j ORDER BY event_type, hour_idx""".stripMargin,
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
        |  FROM events),
        |cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ev JOIN cohorts USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin,
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND v.t_view IS NOT NULL AND e.ts >= v.t_view
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |  GROUP BY 1)
        |SELECT stage, stage_name, n_users FROM (
        |  SELECT 1 AS stage, 'view' AS stage_name,
        |    CAST(count(*) AS BIGINT) AS n_users FROM v WHERE t_view IS NOT NULL
        |  UNION ALL
        |  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM p)
        |ORDER BY stage""".stripMargin,
    "q_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n*n) AS BIGINT) AS s2
        |  FROM hourly GROUP BY 1),
        |sc AS (
        |  SELECT h.event_type, hour_idx, n,
        |    round(CASE WHEN (CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
        |        / CAST(n_hours AS DOUBLE) > 0
        |      THEN (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
        |        / sqrt((CAST(s2 AS DOUBLE)
        |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
        |          / CAST(n_hours AS DOUBLE))
        |      ELSE 0.0 END, 6) AS z
        |  FROM hourly h JOIN st USING (event_type))
        |SELECT event_type, hour_idx, n, z FROM sc
        |ORDER BY abs(z) DESC, event_type, hour_idx LIMIT 20""".stripMargin,
    "q_sample_estimate" ->
      """WITH ex AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_exact,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS q_exact
        |  FROM lineitem GROUP BY 1),
        |es AS (
        |  SELECT l_returnflag, CAST(count(*) * 10 AS BIGINT) AS n_est,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) * 10 AS q_est
        |  FROM lineitem
        |  WHERE ((l_orderkey % 100000) * 7919 + l_linenumber * 104729) % 1000 < 100
        |  GROUP BY 1)
        |SELECT l_returnflag, n_exact, n_est,
        |  round(abs(CAST(n_est AS DOUBLE) - CAST(n_exact AS DOUBLE))
        |    / CAST(n_exact AS DOUBLE), 6) AS n_rel_err,
        |  CAST(q_exact AS DOUBLE) AS q_exact, CAST(q_est AS DOUBLE) AS q_est
        |FROM ex JOIN es USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q_skew_report" ->
      """WITH c AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS total, CAST(max(n) AS BIGINT) AS max_n FROM c)
        |SELECT l_orderkey, n,
        |  round(CAST(max_n AS DOUBLE)
        |    / (CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6) AS skew_factor
        |FROM c, st
        |ORDER BY n DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_federated_join" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin))
}
