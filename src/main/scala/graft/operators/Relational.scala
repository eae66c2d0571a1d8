package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational query core: grouped aggregation, joins (broadcast where the
 * build side is a dimension), window functions, sort/limit, anti join,
 * distinct aggregation, event-time windowing.
 *
 * Scale notes: dimension tables (region/nation/customer-filtered) are
 * explicitly broadcast so the fact-side scan never shuffles for the join;
 * aggregates are declarative so Catalyst plans partial (map-side) aggregation
 * before the exchange. Every aggregate output is rounded so the DuckDB
 * oracle's float summation order cannot flip the hash compare.
 */
object Relational {

  /** Money as whole cents in a Long (cents x discount percent is money in
    * 1e-4 units): the exact sum rounds a half-cent group sum the same in
    * every order, unlike a double sum, at the double sum's cost. */
  private def cents(c: Column): Column = floor(c * 100 + 0.5)

  /** Grouped multi-aggregate with a pushed-down date filter (TPC-H Q1 shape). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / 100).as("sum_base_price"),
        round(sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .cast("decimal(38,0)") / 10000, 2).cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Predicate + projection pushdown to the parquet scan (TPC-H Q6 shape, row-level). */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** 3-way join + aggregate + deterministic top-N (TPC-H Q3 shape).
   *  The filtered customer dim is broadcast; orders⋈lineitem shuffles on the
   *  order key only once. */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Star join over broadcast dims: revenue per region. */
  def q4RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("total_revenue"),
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"))
  }

  /** Window-function per-group top-N: top 3 orders per customer by price. */
  def q5WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Global sort + limit (takeOrdered path — no full sort materialization). */
  def q6SortLimit(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Anti join: customers with no orders on/after 1998-01-01. The filter on
   *  the right side is pushed below the anti join into the parquet scan. */
  def q7AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    Tables.customer(spark, dir)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Distinct aggregation per group. */
  def q8DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Event-time tumbling-window aggregate (hourly) — the batch shape of the
   *  streaming windowed aggregation in [[graft.streaming.Watermarks]]. */
  def q9EventsHourly(spark: SparkSession, dir: String): DataFrame = {
    // integer-cents sum (q26/q29 pattern): a plain double sum is
    // summation-order dependent across engines, and a per-group total on a
    // 4dp half boundary with differing ulps would flip the hash compare
    Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("cents")) / 100.0, 4).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Semi join: customers having at least one high-value order. The semi
   *  join deduplicates on the build side — no fact-side row multiplication. */
  def q11SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0)
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  /** Rollup: subtotal rows per (returnflag, linestatus) hierarchy level. */
  def q12Rollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Lag/lead analytics: per-user event deltas ordered by time. */
  def q13LagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        round(col("value") - lag(col("value"), 1).over(w), 4).as("delta_prev"),
        lead(col("event_id"), 1).over(w).as("next_event"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Scalar-subquery filter: orders above the global average price. The
   *  single-row aggregate broadcasts; the fact scan streams through it. */
  def q14ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val avgPrice = orders.agg(avg(col("o_totalprice")).as("avg_price"))
    orders.join(broadcast(avgPrice), col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Cube: aggregates over every combination of the two grouping columns. */
  def q15Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Set difference: customer nations with no ASIA-region supplier. The
    * right side is restricted to one region so the difference is non-empty
    * at every test SF — an unrestricted supplier side covers all nations and
    * would make the check vacuous (0 rows == 0 rows proves nothing). */
  def q16Except(spark: SparkSession, dir: String): DataFrame = {
    val asiaSuppliers = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_nationkey").as("nationkey"))
    Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .except(asiaSuppliers)
      .orderBy(col("nationkey"))
  }

  /** Sketch aggregates (rows-only: sketch outputs are engine-specific):
   *  HLL distinct-count estimate + approximate percentiles per event type.
   *  At 100 TB these replace exact distinct/percentile shuffles with
   *  mergeable fixed-size state — the only way those stats stay cheap.
   *  The driver's check is rows-only, so the entry eagerly asserts the
   *  sketches' OWN guarantees against exact answers: HLL within 10% (5
   *  sigma at rsd=0.02, so it cannot flake), and approx p50 inside the
   *  exact [p49, p51] RANK band — percentile_approx guarantees rank error
   *  (1/accuracy), not value error, so a value-distance bound would
   *  false-alarm on clustered distributions. */
  /** Sketch aggregates with an ORACLE-CHECKABLE output: the HLL / quantile
    * sketches run for real, but the emitted columns are the exact distinct
    * count (hash-comparable) plus within-tolerance BOOLEANS for each
    * estimate — the DuckDB oracle computes the exact count and literal
    * TRUEs, so a sketch drifting outside its error bound flips a flag and
    * fails the hash compare loudly. Engine-specific estimate VALUES can
    * never be cross-engine-exact (each HLL implementation differs), so the
    * portable contract — estimates land within bounds — is what the result
    * carries. The 0.01 slack on the quantile flags absorbs float
    * interpolation ulps in the exact percentiles; the tolerance windows
    * (±10% users, p50 inside [p49, p51]) do the semantic work. */
  def q17Sketches(spark: SparkSession, dir: String): DataFrame = {
    // (round-20 note: a partition-gated spread of the events scan measured
    // SLOWER here — the sketch partials are cheap, the exchange is not)
    val events = Tables.events(spark, dir)
    val sketched = events
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users"),
        round(percentile_approx(col("value"), lit(0.5), lit(10000)), 2).as("p50_value"),
        round(percentile_approx(col("value"), lit(0.99), lit(10000)), 2).as("p99_value"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        expr("percentile(value, 0.49)").as("exact_p49"),
        expr("percentile(value, 0.51)").as("exact_p51"),
        expr("percentile(value, 0.985)").as("exact_p985"),
        expr("percentile(value, 0.995)").as("exact_p995"))
    sketched.join(exact, "event_type")
      .select(
        col("event_type"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <= col("exact_users") * 0.1)
          .as("acd_ok"),
        (abs(col("hll_users") - col("exact_users")) <= col("exact_users") * 0.1)
          .as("hll_ok"),
        (col("p50_value") >= col("exact_p49") - 0.01 &&
          col("p50_value") <= col("exact_p51") + 0.01).as("p50_ok"),
        (col("p99_value") >= col("exact_p985") - 0.01 &&
          col("p99_value") <= col("exact_p995") + 0.01).as("p99_ok"))
      .orderBy(col("event_type"))
  }

  /** Exact interpolated percentiles per group (the sketch-free counterpart
   *  of q17 — full sort per group, only affordable when groups fit memory). */
  def q18Percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.25)"), 4).as("p25"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy(col("event_type"))
  }

  /** String-function surface: case, slicing, padding, regex replace,
   *  concatenation — all codegen'd Column expressions. */
  def q19StringOps(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("upper_name"),
        substring(col("p_name"), 1, 8).as("prefix8"),
        length(col("p_name")).cast("long").as("name_len"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded_key"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))
  }

  /** Datetime-function surface: component extraction, ISO weekday, date
   *  arithmetic — pushdown-safe Column expressions over the order dates. */
  def q20Datetime(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_1999"))
      .orderBy(col("o_orderkey"))
  }

  /** Pivot: per-user event-value totals spread across one column per event
    * type. The pivot VALUES are declared literally — Spark's two-pass
    * value-discovery variant (`pivot(col)` with no value list) runs an
    * extra distinct job and caps cardinality at
    * spark.sql.pivotMaxValues; a production pivot at scale always declares
    * its (schema-stable) columns. Compiles to ONE hash aggregate with
    * CASE-filtered partial aggs — same shuffle as a plain groupBy, no
    * extra pass (the DuckDB oracle states that equivalence as FILTER
    * aggregates). */
  def q21Pivot(spark: SparkSession, dir: String): DataFrame = {
    // integer-cents sums for the same ulp safety as q9/q26
    Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("cents")) / 100.0, 4))
      .orderBy(col("user_id"))
  }

  /** JSON property extraction + conditional aggregation over the events
    * `props` column (a JSON string). `get_json_object` evaluates in the
    * SCAN stage — one JsonPath walk per row, no intermediate struct column
    * — so at 100 TB the parse cost rides the scan and the only shuffle is
    * the tiny per-type aggregate with map-side partials. `sum` over longs
    * is integer-exact, so `avg` (= sum / count, rounded 4dp) reproduces
    * across engines bit-for-bit; no float-summation-order hazard. */
  def q22JsonProps(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(when(col("k") > 50, 1)).as("high_k"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))
  }

  /** Window quantile assignment: ntile(4) price buckets within each order
    * priority, then per-bucket census. The o_orderkey tie-break makes
    * bucket membership a total order, so the result is engine-exact (ntile
    * over tied prices alone is nondeterministic). Scale note: rank-based
    * ntile needs a per-priority sort with ALL rows of one priority in one
    * partition — with 5 priorities that is a 5-partition skew at 100 TB.
    * The scale path swaps the exact ntile for range-bucketing on
    * percentile_approx boundaries (one pass, no per-key sort); this entry
    * keeps the exact form because bucket membership is the oracle-checked
    * contract. */
  def q23Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("o_orderpriority"), col("quartile"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("o_orderpriority"), col("quartile"))
  }

  /** Ordered conversion funnel view → click → purchase with a 6-hour
    * conversion window per step (the same interval the stream-stream
    * attribution entry bounds its state with): each stage's timestamp is
    * the user's earliest qualifying event in [prev, prev + 6h] (chained
    * min-aggregates, not a 3-way self-join — no pair explosion on hot
    * users). All three aggregates and both joins
    * key on user_id, so at scale the chain is co-partitioned: one
    * user_id exchange feeds every step (AQE reuses the partitioning),
    * and per-stage state is one timestamp per user. The final
    * reached-≥-stage rollup windows over THREE rows (the stage census),
    * not the data — an unpartitioned window is safe there and only
    * there. */
  def q24Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val win = expr("INTERVAL 6 HOURS")
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") >= col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") >= col("t2") && col("ts") <= col("t2") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val staged = t1
      .join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .select(
        when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L)
          .otherwise(1L).as("stage"))
    // always emit all three stages — a funnel where everyone converts must
    // still report the empty early-exit rows (n_exact = 0)
    val byStage = spark.range(1, 4).select(col("id").as("stage"))
      .join(staged.groupBy(col("stage")).agg(count(lit(1)).as("n_exact")),
        Seq("stage"), "left")
      .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
    byStage
      .withColumn("n_reached",
        sum(col("n_exact")).over(
          Window.orderBy(col("stage").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("stage"))
  }

  /** Cohort retention: users bucketed by first-seen day, then distinct
    * active users per (cohort day, day offset). Two shuffles, both on
    * user_id-rooted keys with map-side partials; the cohort attach is a
    * plain equi-join that at scale rides the same hash partitioning as
    * the first-seen aggregate. Day arithmetic on DATE (not timestamp)
    * keeps the offset integer-exact across engines. */
  def q25Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Explicit GROUPING SETS — the general form rollup/cube specialize
    * (q12/q15 cover those): an arbitrary set list ((priority, status),
    * (status), ()) that neither rollup nor cube produces, with
    * `grouping_id` disambiguating subtotal rows from genuine NULL groups.
    * One expand + one hash aggregate, same shuffle as a plain groupBy ×
    * set count. The oracle reconstructs Spark's grouping_id bit order
    * (first listed column = high bit) from DuckDB's per-column
    * GROUPING(). */
  def q30GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  /** Trailing 24-hour moving average per user — a RANGE window frame over
    * event time (q13's lag/lead is a ROWS frame; this is the value-based
    * sibling). The frame bound is expressed on unix_micros so both engines
    * compare the same integers (an interval-typed frame would be exact too,
    * but the numeric form is the one Spark's rangeBetween takes). Per-user
    * partitions keep the sort local to each user's events — no global
    * sort, and frame evaluation is the standard sliding-sum O(n) per
    * partition. The frame arithmetic stays INTEGER end to end: a float
    * sliding sum associates differently per engine (observed 29.2012 vs
    * 29.2013 after round), and even an exact cents sum divided by a
    * 2^a·5^b frame count lands EXACTLY on the 4dp half boundary, where
    * engines' round() disagree on the nearest double. So the 4dp average
    * is computed as a half-up integer division — (200·cents + n) DIV 2n —
    * and only the final /10^4 touches floating point (one exact op). */
  def q29MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-(86400000000L - 1), Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_cents", sum(col("cents")).over(w))
      .withColumn("avg_24h",
        expr("CAST((sum_cents * 200 + n_24h) DIV (2 * n_24h) AS DOUBLE) / 10000.0"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("n_24h"), col("avg_24h"))
      .orderBy(col("event_id"))
  }

  /** Set intersection (INTERSECT — the sibling of q16's EXCEPT): customers
    * active in both 1997 and 1998. Spark plans INTERSECT as a left-semi
    * aggregate join on the full row — one shuffle per side on the same
    * key, co-partitioned at scale. */
  def q28Intersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def active(yr: Int) = o
      .filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey").as("custkey"))
    active(1997).intersect(active(1998)).orderBy(col("custkey"))
  }

  /** Hopping (sliding) event-time windows: 2-hour windows every hour, so
    * each event lands in exactly two windows — Spark's `window(ts, size,
    * slide)` generates the covering set per row BEFORE the aggregate, and
    * the shuffle key is the window start, never an exploded event table
    * materialized on its own. Epoch-aligned starts make the window set a
    * pure function of ts, replayable in any engine. */
  def q26Hopping(spark: SparkSession, dir: String): DataFrame = {
    // sum integer cents, divide once at the end (q29's pattern): a plain
    // double sum is summation-order dependent, and a per-window total
    // landing on a 4dp half boundary with differing ulps would flip the
    // cross-engine hash compare
    Tables.events(spark, dir)
      .select(window(col("ts"), "2 hours", "1 hour").as("w"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("w.start").as("win_start"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("cents")) / 100.0, 4).as("sum_value"))
      .orderBy(col("win_start"))
  }

  /** Per-type standardization + outlier flagging: each event's z-score
    * against its type's mean/stddev, keeping |z| ≥ 1.5 (the test values
    * are uniform, so a 3σ cut would be vacuous — the entry exercises the
    * standardize-then-filter shape, not an anomaly claim). The 5-row
    * moment table broadcasts back onto the scan; the filter compares the
    * ROUNDED z on both engines so summation-order ulps in the moments
    * cannot flip row membership. */
  def q27Zscore(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val stats = e.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
    e.join(broadcast(stats), "event_type")
      .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 4))
      .filter(abs(col("z")) >= 1.5)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Per-user event profile: conditional aggregation (cents-sum, q9's
    * ulp-proofing). */
  def q10EventsSessions(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        round(sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L)) / 100.0, 4).as("purchase_value"),
        date_trunc("second", max(col("ts"))).as("last_ts"))
      .orderBy(col("user_id"))
  }

  /**
   * Traffic-anomaly flags: per event type, the hourly event counts whose
   * z-score against that type's own hourly distribution exceeds |2| — the
   * ops dashboard query over an ingest stream. Float determinism by
   * algebra: z = (n·c − s) / sqrt(n·ss − s²) with n/s/ss exact integer
   * moments of the hourly-count table, so both engines feed the SAME
   * integers into one divide and one sqrt — no order-dependent float sum
   * ever forms (population std; NULL z where a type has constant counts).
   *
   * Scale shape: the hourly table is a map-side-combined aggregate; the
   * moment table is types-bounded and broadcast back; everything after the
   * one count shuffle is scan-stage arithmetic.
   */
  def q32Anomaly(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val m = h.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("ss"))
    h.join(broadcast(m), "event_type")
      .withColumn("disc", col("n") * col("ss") - col("s") * col("s"))
      .select(
        col("event_type"), col("hour"), col("c").as("n_events"),
        when(col("disc") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("c") - col("s")).cast("double") /
              sqrt(col("disc").cast("double")), 4)).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .orderBy(col("event_type"), col("hour"))
  }
}
