package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec

/**
 * General relational surface over the driver's star schema + event table
 * (SURVEY.md §2.6: joins / sorts / grouped aggregation exist "for free"
 * in Spark SQL; these queries EXPOSE them with oracle parity, the way a
 * user of the engine would run ad-hoc analytics beside the stream
 * pipeline).
 *
 * Determinism: every double money/value column becomes a per-row
 * micro-unit BIGINT (round(x·1e6)) BEFORE aggregation, so sums are exact
 * integers in both engines regardless of summation order.
 *
 * Scale shape: only the BOUNDED dimensions (region = 5 rows, nation = 25
 * rows at every TPC-H scale factor) carry an unconditional `broadcast()`
 * hint. customer/supplier/part grow linearly with SF, so their join
 * strategy is left to AQE: at small SF AQE still picks a broadcast join
 * from runtime statistics, while at 100 TB it degrades gracefully to a
 * shuffled hash join instead of OOMing the driver on a multi-GB
 * collected build side. Filters sit directly on the scans for parquet
 * pushdown; fact scans (lineitem, orders, events) stay un-shuffled until
 * their grouping aggregate.
 */
object RelOps {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalized events loader — every events reader (queries, specs,
    * stream fixtures) goes through here, and downstream code may assume
    * `ts` is a BIGINT of exact UTC epoch NANOSECONDS (the engine's
    * cross-engine time grain; DuckDB oracles read the same files via the
    * precision-agnostic `epoch_ns(ts)`).
    *
    * The physical file's timestamp encoding has changed across testdata
    * generations (INT64 nanos originally; `timestamp[us]` since
    * 2026-08-13), so the loader branches on the LOADED dtype instead of
    * assuming one:
    *   - `LongType`: legacy nanos-as-long files (read via the legacy
    *     conf, set below) — already in convention, pass through.
    *   - timestamp (µs precision, NTZ or LTZ): normalize with
    *     `unix_micros(ts) * 1000`. Every session entry point (Verify,
    *     Bench, SparkSpec) pins `spark.sql.session.timeZone=UTC`, under
    *     which the NTZ→LTZ cast inside `unix_micros` is value-identical,
    *     so the long produced is the same UTC instant either way.
    * The conf write is skipped when the value is already "true", so
    * repeated calls don't churn session state. */
  private[graft] def events(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(key).forall(_ != "true"))
      spark.conf.set(key, "true")
    val raw = t(spark, sfDir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts",
          unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — " +
          "expected INT64 nanos or a parquet timestamp")
    }
  }

  /** Hourly tumbling event rollup per type: (wstart, event_type, cnt,
    * val_micro). One scan, one hash aggregate; bucketing happens in the
    * exact integer nanos the normalized [[events]] loader guarantees. */
  def eventsHourly(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .select(col("event_type"),
        (expr("ts div 3600000000000") * 3600L).as("wstart"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
      .groupBy(col("wstart"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("val_micro"))
  }

  /** MARKET-BASKET PAIRS — the retail-analytics classic over the star
    * schema: the 20 part pairs most often bought together IN ONE ORDER
    * (support desc, then part ids — deterministic ties), each with both
    * parts' order frequencies and the exact-ppm LIFT
    * `support·n_orders·10⁶ div (cnt_a·cnt_b)` — lift > 10⁶ means the
    * pair co-occurs more than independence predicts (the cross-sell
    * signal), computed in DECIMAL(38) with truncating division, no
    * float probabilities.
    *
    * Scale shape: candidate pairs come from a per-order self-join of
    * the DISTINCT (order, part) relation — bounded by the basket size
    * squared PER ORDER (baskets are small by domain; ≤7 lines in
    * TPC-H), linear in orders, never parts². The 20-row head then joins
    * the part-frequency relation (the pmiBigrams broadcast-the-head
    * discipline); the corpus total rides as a 1-row broadcast. */
  def basketPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Exec.finish(t(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct())
    val freq = b.groupBy(col("pkey")).agg(count(lit(1)).as("cp"))
    val nOrders = b.select(col("okey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val top = b.as("x").join(b.as("y"),
        col("x.okey") === col("y.okey") &&
          col("x.pkey") < col("y.pkey"))
      .groupBy(col("x.pkey").as("part_a"), col("y.pkey").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a").asc, col("part_b").asc)
      .limit(20)
    top
      .join(freq.select(col("pkey").as("part_a"), col("cp").as("cnt_a")),
        Seq("part_a"))
      .join(freq.select(col("pkey").as("part_b"), col("cp").as("cnt_b")),
        Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("support"),
        col("cnt_a"), col("cnt_b"),
        expr("""cast((cast(support as decimal(38,0)) * n_orders * 1000000)
          | div (cast(cnt_a as decimal(38,0)) * cnt_b) as bigint)"""
          .stripMargin).as("lift_ppm"))
  }

  /** TPC-H Q3-shaped: revenue per order priority for one market segment.
    * customer (filtered) ⋈ orders ⋈ lineitem; revenue =
    * Σ round(extprice·(1−discount)·1e6). customer scales with SF, so no
    * broadcast hint — AQE picks broadcast at small SF, shuffled hash at
    * 100 TB. */
  def q3Revenue(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = t(spark, sfDir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
    li.join(orders.join(cust,
        col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(col("rev")).as("revenue_micro"))
  }

  /** Top-k: the 10 highest-value orders, deterministically tie-broken by
    * order key. TakeOrdered physical op — no full sort materialization. */
  def topkOrders(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long")
          .as("total_micro"))
      .orderBy(col("total_micro").desc, col("o_orderkey").asc)
      .limit(10)

  /** Rollup: revenue by (priority, orderstatus) with subtotals and a
    * grand total; grouping NULLs coalesced to 'ALL' so both engines emit
    * identical marker rows. */
  def rollupRevenue(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("tp"))
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("tp")).as("total_micro"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("cnt"), col("total_micro"))

  /** CUBE grouping sets beside [[rollupRevenue]]'s hierarchy: all four
    * (priority, status) subtotal combinations — the full OLAP
    * cross-tabulation Expand plan. Grouping NULLs coalesce to 'ALL' so
    * both engines emit identical marker rows. */
  def cubeRevenue(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long").as("tp"))
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("tp")).as("total_micro"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("cnt"), col("total_micro"))

  /** PIVOT: per-day event VALUE totals cross-tabulated into one column
    * per event type (zero-filled) — the wide dashboard/report shape.
    * The pivot value list is the FIXED event-type domain (pivoting on
    * discovered values would scan twice and make the schema
    * data-dependent); day = exact integer epoch-day from the ns
    * timestamp. One scan, one hash aggregate with 5 conditional sums —
    * the same plan the oracle's CASE mirror spells out. */
  def pivotDailyValues(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val piv = events(spark, sfDir)
      .select(expr("ts div 86400000000000").as("day"), col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(sum(col("v")))
    piv.select(col("day") +:
      types.map(t => coalesce(col(t), lit(0L)).as(s"${t}_micro")): _*)
  }

  /** Distinct aggregation: exact distinct active users per event type
    * (partial-aggregated distinct, the HLL-exact tier). */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("cnt"))
  }

  /** HyperLogLog-style distinct sketch (Flajolet et al. 2007, raw
    * estimator, no small/large-range correction) per event type, fully
    * oracle-replayable: m=64 registers keyed by the shared MD5 hash60
    * (bucket = h mod 64, register ρ = first-1-bit position of the 54-bit
    * suffix). ρ comes from an exact integer bit-smear + popcount
    * bit-length (libm log2 is NOT correctly-rounded-portable), and the
    * harmonic-mean denominator is the EXACT integer Σ 2^(54−M_j), so the
    * only double step is the final α·m²·2^54 / S division, mirrored
    * operand-for-operand. Output (event_type, est_micro, exact). */
  /** HLL register relation of any (event_type, user_id) frame:
    * (event_type, bucket, mj) with 64 md5-keyed registers per type —
    * shared by [[hllDistinctUsers]] and the streaming twin
    * ([[graft.streaming.EventStreamOps.hllRegisterStream]]); `max` is
    * monotone, so the same expression is an incrementally-maintainable
    * update-mode streaming aggregation with state BOUNDED at
    * types × 64 rows regardless of stream length. */
  private[graft] def hllRegisters(df: DataFrame): DataFrame =
    hllRegistersBy(
      df.select(col("event_type").as("k"),
        col("user_id").cast("string").as("v")))
      .withColumnRenamed("k", "event_type")

  /** Generic form of [[hllRegisters]]: registers of distinct `v` per
    * key `k` over any (k, v: string) frame — also the NDV tier of the
    * streaming column profiler
    * ([[graft.streaming.EventStreamOps.profileNdvStream]]). */
  private[graft] def hllRegistersBy(df: DataFrame): DataFrame = {
    val m = 64
    val h = graft.functions.HashFns.hash60(col("v"))
    // bit_length via smear-to-ones + popcount (exact in both engines);
    // smear over the named column w so the tree stays linear
    val smear = Seq(1, 2, 4, 8, 16, 32).foldLeft(col("w")) {
      (acc, s) => acc.bitwiseOR(shiftright(acc, s))
    }
    val rho = least(lit(55L) - bit_count(smear).cast("long"), lit(54L))
    df
      .select(col("k"), col("v")).withColumn("h", h)
      .withColumn("w", expr("h div 64"))
      .select(col("k"),
        pmod(col("h"), lit(m.toLong)).as("bucket"), rho.as("rho"))
      .groupBy(col("k"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
  }

  def hllDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 64
    val regs = hllRegisters(events(spark, sfDir))
    // every (event_type, bucket) pair, empty registers included
    val allBuckets = events(spark, sfDir)
      .select(col("event_type")).distinct()
      .crossJoin(spark.range(m).select(col("id").as("bucket")))
    val sExact = allBuckets
      .join(regs, Seq("event_type", "bucket"), "left")
      .select(col("event_type"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "CAST(54 - coalesce(mj, 0) AS INT))").as("term"))
      .groupBy(col("event_type"))
      .agg(sum(col("term")).as("s"))
    // α_64·m²·2^54 as one double literal (identical parse both engines)
    val numerator = 0.709 * 4096.0 * 1.8014398509481984e16
    val exact = events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact"))
    sExact.join(exact, Seq("event_type"))
      .select(col("event_type"),
        round(lit(numerator) / col("s").cast("double") * lit(1000000.0))
          .cast("long").as("est_micro"),
        col("exact"))
  }

  /** ROLLING 7-DAY DISTINCT USERS via MERGED per-day HLL sketches — the
    * statement of WHY sketches, not exact sets, are the 100 TB
    * aggregation pattern: per-day registers are tiny (64 longs),
    * partial-aggregable map-side, and MERGE by a plain `max` per bucket,
    * so a rolling window over days recombines daily sketches without
    * ever re-touching the raw events — the nightly-batch sketch-merge
    * every large-scale uniques pipeline runs. Same md5-based register
    * computation as [[hllDistinctUsers]] (exact bit-smear ρ, both
    * engines replay it bit-for-bit); the estimate divides identical
    * integers in both engines, so the float is cross-engine stable.
    *
    * The merge window is RANGE-framed on the day ordinal (−6..0), so
    * absent days cost nothing and partial leading windows are
    * well-defined. The exact rolling baseline rides along for
    * parity/quality reading: it joins each event into the ≤7 day-windows
    * it influences (the [[graft.pipeline.EventOps.rangeJoinRecentErrors]]
    * explode-into-buckets shape, O(7·|events|)) — at 100 TB you would
    * ship ONLY the sketch path; the baseline column is the demonstration
    * that the estimate tracks truth. Output per active day:
    * (day, est_micro, exact). */
  def hllRollingUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 64
    val h = graft.functions.HashFns.hash60(col("user_id").cast("string"))
    val smear = Seq(1, 2, 4, 8, 16, 32).foldLeft(col("w")) {
      (acc, s) => acc.bitwiseOR(shiftright(acc, s))
    }
    val rho = least(lit(55L) - bit_count(smear).cast("long"), lit(54L))
    val ev = events(spark, sfDir)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000")
        .as("day"))
    // per-(day, bucket) register: one hash aggregate, map-side partials
    val regs = ev.withColumn("h", h)
      .withColumn("w", expr("h div 64"))
      .select(col("day"), pmod(col("h"), lit(m.toLong)).as("bucket"),
        rho.as("rho"))
      .groupBy(col("day"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
    // dense (day × bucket) grid so empty registers merge as ρ=0
    val days = ev.select(col("day")).distinct()
    val grid = days.crossJoin(spark.range(m).select(col("id").as("bucket")))
    val merged = grid.join(regs, Seq("day", "bucket"), "left")
      .withColumn("mmj", max(col("mj")).over(
        Window.partitionBy(col("bucket")).orderBy(col("day"))
          .rangeBetween(-6, 0)))
      .select(col("day"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "CAST(54 - coalesce(mmj, 0) AS INT))").as("term"))
      .groupBy(col("day")).agg(sum(col("term")).as("s"))
    val numerator = 0.709 * 4096.0 * 1.8014398509481984e16
    // exact rolling baseline: each event influences ≤7 day-windows
    val exact = ev
      .withColumn("wday", explode(sequence(col("day"), col("day") + 6)))
      .join(days.withColumnRenamed("day", "wday"), Seq("wday"))
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("exact"))
      .withColumnRenamed("wday", "day")
    merged.join(exact, Seq("day"))
      .select(col("day"),
        round(lit(numerator) / col("s").cast("double") * lit(1000000.0))
          .cast("long").as("est_micro"),
        col("exact"))
  }

  /** Theta-sketch bound: retained-sample size per event-type sketch. */
  val ThetaK: Int = 128

  /** Hash space size of [[graft.functions.HashFns.hash60]] (2^60) —
    * exactly representable as a double in both engines. */
  val ThetaU: Long = 1152921504606846976L

  /** AUDIENCE OVERLAP via THETA (KMV) SKETCHES: estimated distinct-user
    * intersection for every event-type pair — the set operation HLL
    * cannot do (HLL unions; theta sketches intersect). Per type the
    * sketch is the [[ThetaK]] SMALLEST md5 hashes of its distinct
    * users (a KMV sample; Beyer et al. 2007 "On Synopses for Distinct-
    * Value Estimation under Multiset Operations"); for a pair, θ =
    * min(θ_a, θ_b) (θ_t = k-th smallest, or the full 2^60 space when
    * the type has < k users — then its side is exact), and the estimate
    * is |{h ∈ S_a ∩ S_b : h < θ}| · (2^60/θ): integer hash arithmetic
    * throughout, one double multiply of identical integers at the end.
    *
    * Scale shape: the k-smallest sample per type is the bounded
    * [[graft.functions.TopKAgg]] aggregate (O(k) buffer per map
    * partition, map-side partial trim — never a per-type sort of the
    * distinct-user relation); after sketching, everything operates on
    * ≤ 5·k rows. The exact baseline (distinct users in BOTH types)
    * rides along for quality reading via one co-partitioned self-join
    * on the user key. Output (type_a, type_b, est_micro, exact),
    * type_a < type_b. */
  def thetaOverlapUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val tu = events(spark, sfDir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", graft.functions.HashFns.hash60(
        col("user_id").cast("string")))
    // k smallest hashes per type: bounded top-k of the NEGATED hash
    val sket = tu.groupBy(col("event_type"))
      .agg(
        graft.functions.TopKAgg.topK(spark, col("h") * lit(-1L), ThetaK)
          .as("negs"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        expr("transform(negs, x -> -x)").as("hs"), // ascending h
        when(col("n") >= ThetaK,
          expr(s"element_at(transform(negs, x -> -x), $ThetaK)"))
          .otherwise(lit(ThetaU)).as("theta"),
        col("n"))
    val a = sket.select(col("event_type").as("type_a"),
      col("hs").as("hs_a"), col("theta").as("th_a"))
    val b = sket.select(col("event_type").as("type_b"),
      col("hs").as("hs_b"), col("theta").as("th_b"))
    // 5 types ⇒ 10 pairs of ≤k-element arrays: trivially broadcastable
    val pairs = a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("theta", least(col("th_a"), col("th_b")))
      .select(col("type_a"), col("type_b"), col("theta"),
        explode(col("hs_a")).as("h"), col("hs_b"))
      .where(col("h") < col("theta") &&
        array_contains(col("hs_b"), col("h")))
      .groupBy(col("type_a"), col("type_b"), col("theta"))
      .agg(count(lit(1)).as("m"))
    val exact = tu.select(col("event_type").as("type_a"),
        col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(countDistinct(col("user_id")).as("exact"))
    // Full pair grid from the sketch relation itself, so EVERY
    // type_a < type_b pair emits a row — a pair with no shared users
    // reports (est 0, exact 0) instead of silently vanishing (the
    // scaladoc contract; previously the exact side keyed the output).
    val grid = a.select(col("type_a"))
      .join(broadcast(b.select(col("type_b"))),
        col("type_a") < col("type_b"))
    grid.join(pairs, Seq("type_a", "type_b"), "left")
      .join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        round(coalesce(col("m"), lit(0L)).cast("double") *
          (lit(ThetaU).cast("double") /
            coalesce(col("theta"), lit(ThetaU)).cast("double")) *
          lit(1000000.0)).cast("long").as("est_micro"),
        coalesce(col("exact"), lit(0L)).as("exact"))
  }

  /** TPC-H Q1-shaped pricing summary: the canonical scan-heavy
    * aggregate — one pass over lineitem with the shipdate predicate on
    * the scan (parquet pushdown), per-row micro-unit conversion, then a
    * 6-group hash aggregate with map-side partials. Averages are exact
    * truncating integer divisions of the micro sums (identical `div` in
    * Spark and `//` in DuckDB); the disc_price / charge products mirror
    * the oracle's operand order exactly, so the per-row rounding is
    * bit-identical. At any scale this is the ideal plan: no shuffle
    * until 6 aggregate rows per partition. */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity") * lit(1000000.0)).cast("long").as("qty"),
        round(col("l_extendedprice") * lit(1000000.0)).cast("long")
          .as("price"),
        round(col("l_discount") * lit(1000000.0)).cast("long").as("disc"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("dp"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")) * lit(1000000.0)).cast("long").as("ch"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("qty")).as("sum_qty_micro"),
        sum(col("price")).as("sum_base_micro"),
        sum(col("dp")).as("sum_disc_price_micro"),
        sum(col("ch")).as("sum_charge_micro"),
        expr("sum(qty) div count(1)").as("avg_qty_micro"),
        expr("sum(price) div count(1)").as("avg_price_micro"),
        expr("sum(disc) div count(1)").as("avg_disc_micro"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q14-shaped: promo revenue share per month — part joins the
    * lineitem scan (strategy left to AQE: part scales with SF); the
    * share ratio divides two exact integer micro sums. */
  def q14PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val part = t(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_type"))
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_partkey"),
        date_trunc("month", col("l_shipdate")).as("mon"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("mon"), "yyyy-MM").as("month"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0L))
          .as("promo_micro"),
        sum(col("rev")).as("total_micro"))
      .withColumn("share_micro",
        round(col("promo_micro").cast("double") /
          col("total_micro").cast("double") * lit(1000000.0)).cast("long"))
  }

  /** The SQL-parsing surface (SURVEY.md §2.6): the engine's tables are
    * queryable through `spark.sql` over a temp view — parsed ANSI SQL
    * compiles to the same Catalyst plan the DataFrame form would. */
  def sqlSourceStats(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "documents").createOrReplaceTempView("documents_v")
    spark.sql(
      """SELECT source, COUNT(*) AS docs, SUM(n_chars) AS chars,
        |       MIN(doc_id) AS first_doc
        |FROM documents_v GROUP BY source""".stripMargin)
  }

  /** TPC-H Q5-shaped: revenue per nation where customer and supplier
    * share the nation. Only nation⋈region (25/5 rows, bounded at every
    * SF) keeps an unconditional broadcast hint; customer and supplier
    * scale with SF and are left to AQE. */
  def q5LocalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = t(spark, sfDir, "nation")
      .join(t(spark, sfDir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = t(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).as("revenue_micro"))
  }

  /** TPC-H Q7-shaped: shipping volume between nation pairs per ship
    * year — the multi-dimension join with an asymmetric pair filter
    * (supp nation ≠ cust nation). Only nation (25 rows, bounded) is
    * broadcast; the fact chain stays un-shuffled until the group-by.
    * Years from l_shipdate via UTC year() on both engines. */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = broadcast(t(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name")))
    val supp = t(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .where(col("s_nationkey") =!= col("c_nationkey"))
      .join(nat.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation")), col("s_nationkey") === col("snk"))
      .join(nat.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation")), col("c_nationkey") === col("cnk"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(count(lit(1)).as("cnt"), sum(col("rev")).as("volume_micro"))
  }

  /** TPC-H Q10-shaped: revenue lost to returned items per customer,
    * top 20 — the returns-analysis join + global top-k
    * (TakeOrderedAndProject, no full sort). */
  def q10Returns(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(sum(col("rev")).as("lost_micro"), count(lit(1)).as("items"))
      .orderBy(col("lost_micro").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q6-shaped: the pure scan-predicate revenue forecast — no
    * join at all, every predicate (shipdate range, discount band,
    * quantity cap) sits on the lineitem scan for parquet row-group
    * pushdown, then one global sum. The ideal 100 TB plan: the scan IS
    * the query; discount literals compare bit-identically in both
    * engines (same decimal→binary parse). */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24.0)
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("l_extendedprice") * col("l_discount") *
          lit(1000000.0)).cast("long")).as("revenue_micro"))

  /** TPC-H Q13-shaped: customer order-count distribution — the
    * double-aggregate over a left join (customers with zero orders must
    * survive into the c_count=0 bucket). Both aggregates are hash
    * aggregates on scaling-but-uniform keys (custkey, then the bounded
    * count value); no window, no sort. */
  def q13OrderDist(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = t(spark, sfDir, "customer").select(col("c_custkey"))
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    cust.join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15-shaped: top supplier by quarterly revenue — the
    * max-over-aggregate pattern (revenue per supplier, keep the
    * supplier(s) hitting the global max). The max is a one-row scalar
    * aggregate joined back (broadcast by construction); revenue is the
    * exact integer micro sum so "equals max" can never float-drift. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("total_rev_micro"))
    val mx = rev.agg(max(col("total_rev_micro")).as("mx"))
    rev.join(broadcast(mx), col("total_rev_micro") === col("mx"))
      .join(t(spark, sfDir, "supplier")
        .select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_micro"))
  }

  /** TPC-H Q18-shaped: large-volume orders — orders whose total quantity
    * exceeds a threshold (HAVING over an aggregate, then a semi-join
    * back onto the order row). Quantity in exact micro units. */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_quantity") * lit(1000000.0)).cast("long").as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("total_qty_micro"))
      .where(col("total_qty_micro") > 150L * 1000000L)
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * lit(1000000.0)).cast("long")
          .as("total_micro"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("total_micro"),
        col("total_qty_micro"))
  }

  /** TPC-H Q4-shaped: orders per priority that had at least one line
    * shipped AFTER the order date (EXISTS → LEFT SEMI join with an
    * equi-key + inequality residual). The semi join keeps orders-side
    * columns only and never duplicates an order however many late lines
    * it has — the dedup is IN the join operator, no distinct. Both
    * sides shuffle once on the orderkey; the date residual evaluates
    * inside the join, and each side's scan reads two columns. */
  def q4LateOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q12-shaped: per return flag, how many lines belong to
    * high-priority (1-URGENT / 2-HIGH) vs low-priority orders — the
    * conditional-aggregation-after-join shape (`sum(case when ...)`),
    * one equi-join on the orderkey and one hash aggregate on a bounded
    * key; the priority class burns down to a 0/1 integer before the
    * aggregate so the shuffle carries no strings. */
  def q12PriorityClass(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = t(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1L))
          .otherwise(lit(0L)).as("hi"))
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("hi")).as("high_line_count"),
        sum(lit(1L) - col("hi")).as("low_line_count"))
  }

  /** TPC-H Q17-shaped: revenue lost to small orders — lines of one
    * brand's parts whose quantity is below 20% of that part's average
    * quantity, total extended price div 7 (the Q17 "avg yearly" form).
    * The correlated scalar subquery (`l_quantity < 0.2 * avg(...)`)
    * becomes a per-part aggregate JOINED BACK on the partkey, and the
    * fraction compares in EXACT integers: qty < sum/(5·cnt) ⇔
    * 5·qty·cnt < sum (micro units) — no float division anywhere.
    * Both lineitem derivatives hash-partition on l_partkey, so the
    * self-join reuses one exchange; the brand filter prunes the part
    * side at the scan before its join. */
  def q17SmallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_quantity") * lit(1000000.0)).cast("long").as("qty"),
        round(col("l_extendedprice") * lit(1000000.0)).cast("long")
          .as("price"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
      .withColumnRenamed("l_partkey", "a_partkey")
    val brand = t(spark, sfDir, "part")
      .where(col("p_brand") === "Brand#12")
      .select(col("p_partkey"))
    li.join(brand, col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("a_partkey"))
      .where(lit(5L) * col("qty") * col("cq") < col("sq"))
      .agg(sum(col("price")).as("sp"))
      .select(expr("sp div 7").as("avg_yearly_micro"))
  }

  /** TPC-H Q19-shaped: revenue under a DISJUNCTION of brand/size/
    * quantity conjuncts — the OR-of-ANDs predicate that exercises
    * CNF conversion: Catalyst pushes the common `p_size >= 1` bound and
    * the union of brands/quantity ranges to the scans while the full
    * disjunction evaluates as the join residual. One equi-join on the
    * partkey, one global aggregate; revenue in exact micro units. */
  def q19BrandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val p = t(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("rev"))
    li.join(p, col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 15) &&
          col("l_quantity").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#23" &&
          col("p_size").between(1, 25) &&
          col("l_quantity").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#34" &&
          col("p_size").between(1, 35) &&
          col("l_quantity").between(20.0, 30.0))))
      .agg(count(lit(1)).as("cnt"), sum(col("rev")).as("revenue_micro"))
  }

  /** Suppliers of one region with micro-unit account balances — the
    * dimension side of [[q2MinCostSupp]]. nation (25 rows) and region
    * (5 rows) are unconditionally broadcast; supplier scales with SF so
    * its join strategy is left to AQE. */
  private def regionSuppliers(spark: SparkSession, sfDir: String,
      regionName: String): DataFrame =
    t(spark, sfDir, "supplier")
      .join(broadcast(t(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, sfDir, "region")
          .where(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("s_acctbal") * lit(1000000.0)).cast("long")
          .as("acct_micro"))

  /** TPC-H Q2-shaped: the min-cost EUROPE supplier per STANDARD part.
    * The schema has no partsupp table, so "supply cost" is DERIVED from
    * observed trade: the cheapest discounted line price each supplier
    * ever quoted for the part (exact micro-int MIN, deterministic). The
    * Q2 correlated `= (SELECT MIN(ps_supplycost) ...)` becomes a
    * per-part MIN aggregate joined back on (partkey, cost) — ties keep
    * every achieving supplier, exactly like the reference query. Both
    * the per-(part,supp) aggregate and the per-part MIN partition on
    * the partkey, so the join-back reuses one exchange; the part-side
    * type/size filter prunes at the scan. */
  def q2MinCostSupp(spark: SparkSession, sfDir: String): DataFrame = {
    val eu = regionSuppliers(spark, sfDir, "EUROPE")
    val cost = t(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("c"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("c")).as("cost_micro"))
    val pc = cost.join(eu, col("l_suppkey") === col("s_suppkey"))
    val mn = pc.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost_micro")).as("m"))
    val parts = t(spark, sfDir, "part")
      .where(col("p_type") === "STANDARD" && col("p_size") <= 25)
      .select(col("p_partkey"), col("p_name"))
    pc.join(mn, col("l_partkey") === col("m_partkey") &&
        col("cost_micro") === col("m"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("acct_micro"), col("cost_micro"))
  }

  /** TPC-H Q8-shaped: NATION_5's market share of ECONOMY-part revenue
    * sold into AMERICA during 1995-1996, per order year. The share is
    * emitted as exact integers — numerator, denominator, and
    * `share_ppm = num·10⁶ div den` — never a float division. One pass
    * over lineitem; the 0/1 nation indicator burns down BEFORE the
    * aggregate so the shuffle carries two longs per year. nation and
    * region broadcast unconditionally; customer/supplier/part joins are
    * AQE's choice (broadcast at small SF, shuffled hash at 100 TB). */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = broadcast(t(spark, sfDir, "nation"))
    val custAmerica = t(spark, sfDir, "customer")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, sfDir, "region")
          .where(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val ord = t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(custAmerica, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"))
    val suppNation = t(spark, sfDir, "supplier")
      .join(nat.select(col("n_nationkey").as("sn_nationkey"),
        col("n_name").as("sn_name")),
        col("s_nationkey") === col("sn_nationkey"))
      .select(col("s_suppkey"),
        (col("sn_name") === "NATION_5").cast("long").as("is_target"))
    val econParts = t(spark, sfDir, "part")
      .where(col("p_type") === "ECONOMY").select(col("p_partkey"))
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long").as("vol"))
      .join(econParts, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("yr"))
      .agg(sum(col("is_target") * col("vol")).as("num_micro"),
        sum(col("vol")).as("den_micro"))
      // num_micro·10⁶ outgrows int64 near SF 100 — ride the product in
      // DECIMAL(38) (DuckDB: HUGEINT), the engine's unbounded-
      // intermediate discipline (see pmiBigrams)
      .select(col("yr"), col("num_micro"), col("den_micro"),
        expr("CAST(CAST(num_micro AS DECIMAL(38,0)) * 1000000 " +
          "div den_micro AS BIGINT)").as("share_ppm"))
  }

  /** TPC-H Q9-shaped: profit on red parts per supplier nation and ship
    * year. No partsupp → cost is MODELED as half the part's list price
    * per unit (`retail·qty·0.5`), rounded to micro units per row with
    * the same operand order in both engines, so
    * `profit = rev_micro − cost_micro` stays exact-integer under any
    * aggregation order. The `p_name LIKE 'red%'` prefix filter pushes
    * to the part scan (StartsWith pushdown); grouping key is
    * (25 nations × years) — bounded, so the final aggregate is tiny. */
  def q9ProfitByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = t(spark, sfDir, "part")
      .where(col("p_name").startsWith("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = t(spark, sfDir, "supplier")
      .join(broadcast(t(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    t(spark, sfDir, "lineitem")
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("nation"),
        year(col("l_shipdate")).cast("long").as("yr"),
        (round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(1000000.0)).cast("long") -
         round(col("p_retailprice") * col("l_quantity") * lit(0.5) *
          lit(1000000.0)).cast("long")).as("p"))
      .groupBy(col("nation"), col("yr"))
      .agg(sum(col("p")).as("profit_micro"))
  }

  /** TPC-H Q11-shaped: parts whose NATION_7-supplied trade value
    * exceeds 0.1% of that nation's total. No partsupp → "stock value"
    * is the micro-int sum of extended prices NATION_7's suppliers
    * actually shipped per part. The Q11 scalar subquery (`> SUM(...) ×
    * fraction`) becomes a single-row aggregate broadcast-cross-joined
    * onto the per-part values, compared in exact cross-multiplied
    * integers (`val·1000 > total`) — no float fraction. The nation
    * filter reaches the supplier scan; lineitem shuffles once, on the
    * partkey. */
  def q11ImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    val supp7 = t(spark, sfDir, "supplier")
      .join(broadcast(t(spark, sfDir, "nation")
          .where(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = t(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * lit(1000000.0)).cast("long")
          .as("x"))
      .join(supp7, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("x")).as("val_micro"))
    val tot = v.agg(sum(col("val_micro")).as("tot"))
    v.join(broadcast(tot))
      // val_micro·1000 rides in DECIMAL(38): a hot part's micro value
      // can pass int64/1000 at extreme SF
      .where(expr("CAST(val_micro AS DECIMAL(38,0)) * 1000") > col("tot"))
      .select(col("l_partkey"), col("val_micro"))
  }

  /** TPC-H Q16-shaped: how many distinct suppliers actually shipped
    * parts of each (brand, type, size) combo, for selected sizes and
    * excluding one brand. No partsupp → the part↔supplier relation is
    * the DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem;
    * Q16's complaints-suppliers NOT IN becomes a LEFT ANTI join against
    * negative-balance suppliers. The pair-dedup and the COUNT(DISTINCT)
    * both partition on the partkey side keys — Spark plans the distinct
    * aggregate as a two-phase expand without a raw-row re-shuffle. */
  def q16SupplierCnt(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = t(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val complainers = t(spark, sfDir, "supplier")
      .where(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = t(spark, sfDir, "part")
      .where(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size"))
    pairs.join(complainers, col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q20-shaped: suppliers who dominated 1997 shipments of any
    * small* part — shipped MORE THAN HALF of that part's total shipped
    * quantity. No partsupp availqty → Q20's `ps_availqty > 0.5 ×
    * sum(l_quantity)` becomes a share-of-shipments test in exact
    * cross-multiplied micro ints (`2·sq > st`). The per-(part,supp)
    * aggregate and per-part total partition identically, so the
    * join-back reuses the exchange; the date range and the name prefix
    * both push to their scans. Output dedups via the final DISTINCT on
    * the bounded supplier side. */
  def q20ExcessShippers(spark: SparkSession, sfDir: String): DataFrame = {
    val smallParts = t(spark, sfDir, "part")
      .where(col("p_name").startsWith("small"))
      .select(col("p_partkey"))
    val sq = t(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity") * lit(1000000.0)).cast("long").as("q"))
      .join(smallParts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("q")).as("sq"))
    val st = sq.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("sq")).as("st"))
    val winners = sq.join(st, col("l_partkey") === col("t_partkey") &&
        col("sq") * lit(2L) > col("st"))
      .select(col("l_suppkey")).distinct()
    t(spark, sfDir, "supplier")
      .join(winners, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** TPC-H Q21-shaped: suppliers who were the SOLE latest shipper on
    * multi-supplier finalized orders. The schema has no
    * receipt/commit dates, so "kept the order waiting" is re-expressed
    * on shipdate: this supplier's last line shipped strictly after
    * every other supplier's (Q21's EXISTS(other supplier) ∧ NOT
    * EXISTS(other supplier shipping later-or-equal) — the unique-max
    * form). Both correlated subqueries collapse into window aggregates
    * over ONE per-(order, supplier) pre-aggregate: supplier count,
    * order max, and achiever count share a single hash partition on the
    * orderkey (three Window ops, one exchange). The orderstatus filter
    * pushes to the orders scan. */
  def q21WaitingSupp(spark: SparkSession, sfDir: String): DataFrame = {
    val fOrders = t(spark, sfDir, "orders")
      .where(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val ls = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("mx"))
    val w = Window.partitionBy(col("l_orderkey"))
    ls.withColumn("ns", count(lit(1)).over(w))
      .withColumn("omax", max(col("mx")).over(w))
      .withColumn("nach",
        sum(when(col("mx") === col("omax"), 1L).otherwise(0L)).over(w))
      .where(col("ns") > 1 && col("mx") === col("omax") &&
        col("nach") === 1)
      .join(t(spark, sfDir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q22-shaped: dormant-but-wealthy customers per market
    * segment. No phone country codes → the segment key stands in, and
    * "no orders in 7 years" becomes no orders since 1999-01-01 (every
    * synthetic customer has SOME order). The scalar average-balance
    * subquery compares in exact cross-multiplied integers
    * (`acct_micro·n > sum_micro`, positive balances only), broadcast as
    * a single row; the dormancy NOT EXISTS is a LEFT ANTI join against
    * the date-pruned orders scan. */
  def q22GlobalSales(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * lit(1000000.0)).cast("long")
          .as("acct_micro"))
    val pos = cust.where(col("acct_micro") > 0)
      .agg(sum(col("acct_micro")).as("pos_sum"),
        count(lit(1)).as("pos_n"))
    val recent = t(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(pos))
      // acct_micro·pos_n rides in DECIMAL(38): a billion-customer corpus
      // pushes the product past int64
      .where(expr("CAST(acct_micro AS DECIMAL(38,0)) * pos_n") >
        col("pos_sum"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("acct_micro")).as("totacct_micro"))
  }
}
