package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec

/**
 * Event-stream analytics operators over the `events` table — the
 * capability tier a stream-analytics user expects NEXT to the reference's
 * windowed surface (SURVEY.md §2.4): ordered-state joins and
 * sessionization, the two classic operators Spark has no single built-in
 * for, plus the semi-structured (JSON) column path.
 *
 * All three follow the engine's determinism contract: event time is
 * truncated to exact integer MICROseconds before any comparison or
 * arithmetic (the normalized [[RelOps.events]] loader delivers `ts` as
 * exact UTC epoch-nanosecond BIGINTs whatever the file's physical
 * timestamp encoding; DuckDB reads the same column via `epoch_ns`, so µs
 * is the finest integer both engines agree on; see
 * [[latestEventState]]), money/value doubles
 * become per-row micro-unit BIGINTs before any aggregation, and every
 * window order carries `event_id` as the total-order tiebreaker so ties
 * cannot make the oracle hash flaky.
 *
 * Scale shape: each operator is ONE shuffle on `user_id` (the key whose
 * cardinality grows with the data — per-key partitions stay small at any
 * SF) followed by narrow window/aggregate work; no joins, no broadcast,
 * no driver state. This is the union-tagged as-of-join plan, not a
 * per-row range probe: at 100 TB the as-of join costs exactly one
 * sort-shuffle of the two event subsets together.
 */
object EventOps {

  /** 30-minute session gap, in integer microseconds. */
  val SessionGapUs: Long = 1800L * 1000000L

  /** AS-OF JOIN (attribution): for every `purchase` event, the latest
    * `click` by the same user at or before the purchase (the
    * click→purchase attribution query; DuckDB spells it `ASOF JOIN`).
    *
    * Spark-first plan: instead of a per-purchase range probe (quadratic
    * per hot user) or an interval join, the two event subsets are
    * UNION-TAGGED and sorted once per user on (ts, kind, event_id) —
    * clicks (kind 0) sort before purchases (kind 1) at equal ts, so a
    * running `last(click, ignoreNulls)` over the unbounded-preceding
    * frame IS the as-of match. One shuffle, linear per-user work,
    * identical tie semantics in both engines (equal-ts clicks match; the
    * max event_id among them wins).
    *
    * Output per purchase: purchase_id, user_id, click_id (-1 when no
    * prior click), gap_sec (exact integer floor-seconds, -1 when none).
    */
  def asofAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val tagged = RelOps.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"),
        when(col("event_type") === "click", lit(0)).otherwise(lit(1))
          .as("kind"))
    val asOf = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true)
          .over(asOf))
      .withColumn("click_tus",
        last(when(col("kind") === 0, col("tus")), ignoreNulls = true)
          .over(asOf))
      .where(col("kind") === 1)
      .withColumn("gap_us", col("tus") - col("click_tus"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("gap_us div 1000000"), lit(-1L)).as("gap_sec"))
  }

  /** SESSIONIZATION (gaps-and-islands): events of one user belong to the
    * same session while consecutive gaps stay ≤ 30 min. Output one row
    * per session: user_id, sess (per-user session ordinal), start epoch
    * second, duration seconds, event count, value sum in micro-units.
    *
    * Plan: lag + running sum of session-break flags over the per-user
    * order, then one hash aggregate on (user_id, sess) — the batch twin
    * of `session_window(ts, '30 minutes')`, kept in explicit
    * gaps-and-islands form so DuckDB replays it verbatim. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
      .withColumn("prev_tus", lag(col("tus"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_tus").isNull ||
          col("tus") - col("prev_tus") > lit(SessionGapUs), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("sess", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(
        min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(col("v")).as("val_micro"))
      .select(col("user_id"), col("sess"),
        expr("start_us div 1000000").as("start_sec"),
        expr("(end_us - start_us) div 1000000").as("dur_sec"),
        col("n_events"), col("val_micro"))
  }

  /** Range-join lookback window (6 h) and bucket width (1 h), both in
    * integer microseconds. */
  val LookbackUs: Long = 21600L * 1000000L
  val BucketUs: Long = 3600L * 1000000L

  /** RANGE (interval) JOIN: for every purchase, the same user's errors
    * in the 6 hours at-or-before it — the "recent failures before
    * conversion" feature-engineering join. Output one row per purchase
    * that had ≥1 recent error: purchase_id, user_id, n_recent_errors,
    * min_gap_sec (seconds since the closest error).
    *
    * Spark-first plan: Spark has no interval-join operator, and the
    * naive formulation (`p.join(e, userEq && tsBetween)`) degenerates to
    * a per-user cross product. Instead each error EXPLODES into the
    * 1-hour buckets its 6-h influence interval covers (`sequence` over
    * bucket ordinals — a fixed ≤7 rows per error) and each purchase
    * carries its single bucket, turning the range predicate into an
    * EQUI-join on (user_id, bucket) + a residual `0 ≤ gap ≤ 6h` filter,
    * then one hash aggregate per purchase. Shuffle volume is
    * O(7·|errors| + |purchases|), never quadratic in either side. */
  def rangeJoinRecentErrors(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelOps.events(spark, sfDir)
    val errs = ev.where(col("event_type") === "error")
      .select(col("user_id"), expr("ts div 1000").as("e_tus"))
      .withColumn("bk", explode(sequence(
        expr(s"e_tus div ${BucketUs}L"),
        expr(s"(e_tus + ${LookbackUs}L) div ${BucketUs}L"))))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), expr("ts div 1000").as("p_tus"),
        expr(s"(ts div 1000) div ${BucketUs}L").as("bk"))
    purch.join(errs,
        col("p_user") === col("user_id") && purch("bk") === errs("bk") &&
          col("p_tus") >= col("e_tus") &&
          col("p_tus") - col("e_tus") <= lit(LookbackUs))
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(lit(1)).as("n_recent_errors"),
        min(expr("(p_tus - e_tus) div 1000000")).as("min_gap_sec"))
  }

  /** ORDERED FUNNEL (view → click → purchase): per user, the first view,
    * the first click at-or-after that view, and the first purchase
    * at-or-after that click — the product-analytics conversion funnel
    * with step ORDER enforced (a click before the first view does not
    * count). Output one row per user that has ≥1 funnel-type event:
    * user_id, view_tus / click_tus / purchase_tus (µs, -1 when the step
    * was never reached) and depth 0-3.
    *
    * Spark-first plan: no joins — three chained full-partition window
    * minima over the SAME user_id partitioning (min(view ts), then
    * min(click ts ≥ that), then min(purchase ts ≥ that)), so the whole
    * funnel costs ONE shuffle of the filtered event subset and linear
    * per-user work. Equal-µs ties resolve by `>=` inclusion — identical
    * in both engines on exact integers. A hot user with 10^6 events
    * costs three unordered window passes, never a per-step join probe. */
  def funnelSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    RelOps.events(spark, sfDir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_type"))
      .withColumn("v_tus",
        min(when(col("event_type") === "view", col("tus"))).over(byUser))
      .withColumn("c_tus",
        min(when(col("event_type") === "click" &&
          col("tus") >= col("v_tus"), col("tus"))).over(byUser))
      .withColumn("p_tus",
        min(when(col("event_type") === "purchase" &&
          col("tus") >= col("c_tus"), col("tus"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(min(col("v_tus")).as("view_tus0"),
        min(col("c_tus")).as("click_tus0"),
        min(col("p_tus")).as("purchase_tus0"))
      .select(col("user_id"),
        coalesce(col("view_tus0"), lit(-1L)).as("view_tus"),
        coalesce(col("click_tus0"), lit(-1L)).as("click_tus"),
        coalesce(col("purchase_tus0"), lit(-1L)).as("purchase_tus"),
        (when(col("purchase_tus0").isNotNull, lit(3L))
          .when(col("click_tus0").isNotNull, lit(2L))
          .when(col("view_tus0").isNotNull, lit(1L))
          .otherwise(lit(0L))).as("depth"))
  }

  /** Microseconds per day, for cohort/retention day bucketing. */
  val DayUs: Long = 86400L * 1000000L

  /** Salt shards for the retention cohort join — sized to the hot-key
    * fan-out wanted per skewed user, not to the cluster (each shard is
    * one reducer's share of a bot user's events). */
  val CohortJoinSalts = 8

  /** RETENTION COHORTS: users cohorted by their first `signup` day;
    * for each (cohort_day, day_offset ≥ 0) the count of DISTINCT cohort
    * users active (any event) that day — the classic triangular
    * retention matrix. Days are exact integer epoch-days of the µs
    * event time.
    *
    * Plan: one hash aggregate for first-signup per user (map-side
    * partials), then an equi-join back to the event stream ON user_id —
    * the canonical HOT-KEY × NON-BROADCASTABLE-DIM join: the cohort
    * frame is one row per signed-up user (too big to broadcast at
    * 100 TB) and event volume per user is the skew
    * [[eventSkewProfile]] exists to diagnose (a bot user's millions of
    * events serialize on one reducer in a plain shuffle join). The
    * join runs SALTED ([[graft.ops.ScaleOps.saltedJoin]],
    * [[CohortJoinSalts]] shards): the event side scatters
    * deterministically, the per-user dim replicates across the salts,
    * so a hot user's rows spread over [[CohortJoinSalts]] reducers —
    * result EXACTLY the plain join (the registry oracle hash-audits
    * that; ScaleOpsSpec pins the salt in this plan and the hot-key
    * spread). At small SF the exploded dim still broadcasts and the
    * salt is physically free. Then one distinct aggregate on (cohort,
    * offset, user) and one count. Nothing is ever ordered; every stage
    * is a hash aggregate keyed by columns whose per-key volume stays
    * bounded as the corpus grows. */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("(ts div 1000) div " + DayUs).as("day"),
        col("event_type"))
    val cohorts = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    graft.ops.ScaleOps.saltedJoin(ev, cohorts, "user_id",
        CohortJoinSalts)
      .where(col("day") >= col("cohort_day"))
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Microseconds per hour, for the dense-series bucket grid. */
  val HourUs: Long = 3600L * 1000000L

  /** DENSE TIME SERIES (gap-fill): hourly event counts per type with
    * ZERO rows for silent hours — the densification a downstream
    * forecasting/anomaly model needs (sparse aggregates hide gaps).
    * Output (hour_sec = epoch-second of the hour bucket, event_type,
    * cnt), covering every hour from the corpus min to max for every
    * type.
    *
    * Plan: the observed counts are one scan + hash aggregate; the dense
    * grid is sequence(min_hour, max_hour) exploded against the DISTINCT
    * type relation — both derived from one-row/tiny aggregates carried
    * via `broadcast()` — and the zero-fill is a left join of grid onto
    * counts on (hour, type). Grid size is (time-span hours × types):
    * bounded by the clock, not the corpus, so it broadcasts at any SF
    * while the fact side never shuffles twice. */
  def activityGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = RelOps.events(spark, sfDir)
      .select(col("event_type"), expr("(ts div 1000) div " + HourUs).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val types = hourly.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select((col("h") * lit(3600L)).as("hour_sec"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** ANOMALY FLAGS over the dense hourly series: for every (hour, type)
    * with a full 24-hour trailing baseline, flag counts outside 3
    * standard deviations of that baseline — the threshold alerting rule
    * every ops/monitoring pipeline runs, in EXACT integer arithmetic:
    * (x − x̄)² > 9σ² multiplies through by n² into
    * (n·x − s)² > 9·(n·ssq − s²), all integer counts, no float mean or
    * libm sqrt anywhere — both engines compare identical integers. The
    * quadratic terms are carried in DECIMAL(38,0) (DuckDB: HUGEINT):
    * (n·x − s)² overflows int64 once an hour tops ~4×10^8 events, which
    * a 100 TB stream does reach. Output (hour_sec, event_type, cnt,
    * mean_micro = µ-scaled trailing mean, anomaly 0/1).
    *
    * Plan: chains on [[activityGapfill]] — gap-fill is what makes a
    * ROWS window ≡ a 24-HOUR window (silent hours are present as
    * zeros, so 24 rows back is exactly 24 hours back; on a sparse
    * series the same frame would silently span weeks). The window
    * partitions by type and orders by the hour ordinal: per-partition
    * volume is bounded by the CLOCK (8760 rows/type/year), so the sort
    * inside each partition stays trivial at any corpus size. */
  def anomalousHours(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(-24, -1)
    activityGapfill(spark, sfDir)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("cnt")).over(w))
      .withColumn("ssq",
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).over(w))
      .where(col("n") === 24)
      .select(col("hour_sec"), col("event_type"), col("cnt"),
        expr("(s * 1000000) div n").as("mean_micro"),
        when(
          expr("CAST(n * cnt - s AS DECIMAL(38,0)) * (n * cnt - s)") >
            expr("9 * (n * ssq - CAST(s AS DECIMAL(38,0)) * s)"),
          lit(1L)).otherwise(lit(0L)).as("anomaly"))
  }

  /** Semi-structured column path: extract the integer `k` field from the
    * JSON `props` column (`get_json_object` — Spark's codegen'd JSON
    * path expression) and aggregate per event type. The decode happens
    * in the scan's projection; at scale this is the
    * schema-on-read pattern for sparse event properties that don't merit
    * parquet columns. */
  def jsonPropsStats(spark: SparkSession, sfDir: String): DataFrame =
    RelOps.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        count(col("k")).as("k_present"),
        sum(col("k")).as("k_sum"),
        countDistinct(col("k")).as("k_distinct"),
        max(col("k")).as("k_max"))

  /** SCD TYPE-2 HISTORY: the full validity-interval form of the CDC
    * surface ([[latestEventState]] is the Type-1 compaction) — one row
    * per event carrying its validity window: valid_from = the event's
    * µs time, valid_to = the user's NEXT event time (-1 while current),
    * is_current flag. This is the warehouse "as of any time T" table: a
    * point-in-time join needs only `valid_from ≤ T < valid_to`.
    *
    * Plan: one shuffle on the user key + a per-user ordered `lead` —
    * the window order carries event_id so equal-µs successions are a
    * total order in both engines. Per-user partitions scale with user
    * activity, not corpus count. */
  def eventHistoryScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("tus"), 1).over(byUser))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tus").as("valid_from_tus"),
        coalesce(col("nxt"), lit(-1L)).as("valid_to_tus"),
        when(col("nxt").isNull, lit(1L)).otherwise(lit(0L))
          .as("is_current"))
  }

  /** PER-USER CADENCE FEATURES — the behavioral-signature extraction an
    * abuse/bot-detection pipeline feeds a model: per user, the count,
    * mean and max of inter-event gaps (whole seconds, truncating µs
    * arithmetic) and a burstiness flag (max gap > 4× mean gap on the
    * exact µs values — cross-multiplied, no division). A metronomic bot
    * shows near-zero gap variance; a human shows bursts.
    *
    * Plan: one shuffle on the user key, a per-user ordered `lag`, one
    * hash aggregate — the sessionize shape without the island labels. */
  def userCadence(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"))
      .withColumn("gap",
        col("tus") - lag(col("tus"), 1).over(byUser))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        sum(col("gap")).as("sum_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .where(col("n_gaps") > 0)
      .select(col("user_id"), col("n_events"),
        expr("(sum_gap_us div n_gaps) div 1000000").as("mean_gap_sec"),
        expr("max_gap_us div 1000000").as("max_gap_sec"),
        // max > 4·mean ⇔ max·n_gaps > 4·sum — exact integers
        when(col("max_gap_us") * col("n_gaps") >
          lit(4L) * col("sum_gap_us"), lit(1L)).otherwise(lit(0L))
          .as("bursty"))
  }

  /** CONVERSION LATENCY QUANTILES: exact p50/p90/p99 of the
    * view→purchase latency (whole seconds) over fully-converted funnel
    * users — the "how long does conversion take" product statistic,
    * with the engine's exact-quantile discipline: the element AT a rank
    * (engines never disagree on that) rather than float interpolation
    * (they do). Same bounded-histogram rank-pick as the length-quantile
    * operator: aggregate to (latency_sec, count) first — the histogram
    * is bounded by the latency DOMAIN, not the user count — then one
    * cumulative window over the histogram only. Output one row:
    * (n_conversions, p50_sec, p90_sec, p99_sec, max_sec). */
  def conversionLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val lat = funnelSteps(spark, sfDir)
      .where(col("depth") === 3L)
      .select(expr("(purchase_tus - view_tus) div 1000000").as("sec"))
      .groupBy(col("sec")).agg(count(lit(1)).as("cnt"))
    lat
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("sec").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(lit(1))))
      .agg(
        sum(col("cnt")).as("n_conversions"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("sec")))
          .as("p50_sec"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("sec")))
          .as("p90_sec"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("sec")))
          .as("p99_sec"),
        max(col("sec")).as("max_sec"))
  }

  /** Point-in-time probe: 2024-01-15T00:00:00Z in epoch microseconds
    * (mid-span of the 30-day fixture). */
  val MidmonthTus: Long = 1705276800L * 1000000L

  /** POINT-IN-TIME STATE (the as-of-T read the SCD2 table exists for):
    * each user's latest event at-or-before [[MidmonthTus]], plus their
    * event count up to T. Semantically ≡ filtering
    * [[eventHistoryScd2]] to `valid_from ≤ T < valid_to` (pinned by
    * EventOpsSpec) — but PLANNED as the [[latestEventState]] shape with
    * the time predicate pushed to the scan: one filtered pass, one
    * `max(struct)` hash aggregate with map-side partials, no window, no
    * history materialization. At 100 TB this is the difference between
    * touching the events at-or-before T once and sorting every user's
    * full history. */
  def stateAsOfMidmonth(spark: SparkSession, sfDir: String): DataFrame =
    RelOps.events(spark, sfDir)
      // the at-or-before-T predicate on the RAW ns column so it reaches
      // the parquet scan as a pushed range filter (ts div 1000 ≤ T ⇔
      // ts < (T+1)·1000 for non-negative epoch ns); filtering the
      // µs-derived column instead would evaluate post-scan
      .where(col("ts") < lit((MidmonthTus + 1L) * 1000L))
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"), col("event_type"))
      .select(col("user_id"), struct(col("tus"), col("event_id"),
        col("event_type")).as("s"))
      .groupBy(col("user_id"))
      .agg(max(col("s")).as("m"), count(lit(1)).as("n_events_to_t"))
      .select(col("user_id"), col("m.tus").as("tus"),
        col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"), col("n_events_to_t"))

  /** CDC-style latest-state compaction: ONE row per user carrying the
    * latest event by (ts, event_id) plus the user's event count — the
    * "current state" materialization a changelog consumer ships (the
    * compacted-topic / SCD-type-1 read).
    *
    * Plan: a single hash aggregate of `max(struct(tus, event_id, ...))` —
    * struct ordering is lexicographic, (tus, event_id) is a total order,
    * so the max IS the argmax, computed with map-side partials. No
    * per-user window sort: a hot user with 10^9 events costs one
    * combiner cell per map partition, same as a cold one.
    *
    * Time is exact integer MICROseconds (ns div 1000): DuckDB reads the
    * table's TIMESTAMP(NANOS) at µs precision, so µs (+ event_id
    * tiebreak) is the finest cross-engine-total order. */
  def latestEventState(spark: SparkSession, sfDir: String): DataFrame =
    RelOps.events(spark, sfDir)
      .select(col("user_id"), struct(expr("ts div 1000").as("tus"),
        col("event_id"), col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v")).as("s"))
      .groupBy(col("user_id"))
      .agg(max(col("s")).as("m"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("m.tus").as("last_tus"),
        col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"),
        col("m.v").as("last_value_micro"), col("n_events"))

  /** MARKOV TRANSITION MATRIX over per-user event sequences: for each
    * ordered pair of consecutive events of one user, count the
    * (from_type → to_type) transition and its probability among all
    * transitions leaving from_type — the behavioral-model / next-event
    * predictor input. Probability in exact ppm integers:
    * `prob_ppm = cnt·10⁶ div from_total` (truncating, no float
    * division).
    *
    * Plan: ONE shuffle on user_id for the ordered `lag`, a hash
    * aggregate onto the BOUNDED (types × types) pair frame, and the
    * denominator window runs over that bounded frame only — at 100 TB
    * the post-shuffle state is ≤ |types|² rows. Order is the engine's
    * (µs, event_id) cross-engine total order. */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val pairs = RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    pairs
      .withColumn("from_total",
        sum(col("cnt")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("cnt"),
        expr("cnt * 1000000 div from_total").as("prob_ppm"))
  }

  /** Power-iteration count of [[eventPagerank]] (fixed, so both engines
    * run the identical unrolled computation). */
  val PagerankIters = 10

  /** PAGERANK over the [[eventTransitions]] graph — which event type is
    * "central" to user journeys, counting INDIRECT flow (a type mostly
    * reached via other heavily-reached types outranks one with the same
    * in-count from cold starts)? The graph tier's third member beside
    * connected components and triangles: an ITERATIVE fixed-point
    * computation, done in exact integers so ten power iterations replay
    * bit-for-bit in both engines.
    *
    * Semantics (damping 0.85, [[PagerankIters]] iterations, all
    * divisions truncating): r₀ = 10^6 div N per node;
    * rₖ₊₁(v) = (150000 div N) + (85 · Σᵤ (rₖ(u)·p(u,v) div 10^6)) div
    * 100 — each edge term truncates individually, so the sum is
    * order-independent and the tiny mass leak is deterministic. Nodes
    * without inbound edges keep the teleport floor.
    *
    * Scale shape: the rank relation co-partitions with the edge list on
    * the join key, so each iteration is ONE equi-join + ONE hash
    * aggregate (the exchange reuses the same partitioning every round)
    * — the identical plan runs when the nodes are a billion domains
    * instead of five event types; per-round `localCheckpoint` truncates
    * loop lineage exactly as [[graft.pipeline.DataOps.dedupClusters]]
    * does. Here the type-graph frames are trivially broadcast-sized, so
    * AQE picks broadcast joins and the loop costs ~nothing. */
  def eventPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Exec.pin(eventTransitions(spark, sfDir)
      .select(col("from_type"), col("to_type"), col("prob_ppm")))
    val nodes = Exec.pin(edges.select(col("from_type").as("node"))
      .union(edges.select(col("to_type").as("node"))).distinct())
    val nn = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr("1000000 div n").as("r"))
    for (_ <- 1 to PagerankIters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "from_type"),
          Seq("from_type"))
        .select(col("to_type").as("node"),
          expr("r * prob_ppm div 1000000").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      ranks = Exec.pin(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nn))
        .select(col("node"),
          (expr("150000 div n") +
            expr("85 * coalesce(contrib, 0L) div 100")).as("r")))
    }
    ranks.select(col("node").as("event_type"), col("r").as("rank_ppm"))
  }

  /** TOP ENTRY PATHS: each user's first up-to-3 events joined into a
    * `a>b>c` path string, then the 20 most common paths (ties path asc)
    * — the onboarding-funnel discovery query ("how do users actually
    * start?").
    *
    * Plan: the per-user first-3 is the bounded [[graft.functions.TopKAgg]]
    * aggregate over NEGATED (µs, event_id) — O(3) state per (map
    * partition, user), so a hot user never triggers a full per-user
    * window sort; the path frame is one row per user; the final top-20
    * is TakeOrdered. */
  def topPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = RelOps.events(spark, sfDir)
      .select(col("user_id"),
        struct((-expr("ts div 1000")).as("ntus"),
          (-col("event_id")).as("nid"),
          col("event_type")).as("s"))
      .groupBy(col("user_id"))
      .agg(graft.functions.TopKAgg.topK(spark, col("s"), 3).as("top"))
      // topK keeps the LARGEST by struct order; negated (µs, id) makes
      // those the 3 EARLIEST events, already ordered first→last
      .select(col("user_id"),
        array_join(transform(col("top"), e => e.getField("event_type")),
          ">").as("path"))
    firsts.groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(20)
  }

  /** COLUMN PROFILE — the one-pass ANALYZE-style data-quality summary a
    * pipeline runs before trusting a new drop: per column of `events`,
    * row/null/exact-distinct counts, min/max, and total canonical width.
    * Numbers are profiled on a canonical BIGINT (ts → epoch-µs, the
    * repo's cross-engine time grain — DuckDB truncates ns parquet
    * timestamps to µs on read; value →
    * micro-units via the [[RelOps.eventsHourly]] rounding convention),
    * strings on themselves; the unused tier carries a non-null sentinel
    * (-1 / '') so the output is fully non-null and hash-stable.
    *
    * Spark-first plan: ONE scan; each row explodes into 6 tagged
    * (col_name, repr) structs, then ONE hash aggregate keyed by
    * col_name computes every stat — count(distinct repr) is planned by
    * Spark as a two-phase partial-dedup aggregate, so no column's value
    * set ever gathers on one node. The explode multiplies scanned rows
    * by ncols exactly as ANALYZE must (every cell is inspected once);
    * at 100 TB you would profile a column subset or swap the exact
    * distinct for the HLL sketch tier ([[RelOps.hllDistinctUsers]]) —
    * the plan shape is unchanged. */
  /** SEASONAL PROFILE — the hour-of-day × day-of-week baseline per
    * event type over the DENSE hourly series (the capacity-planning /
    * forecasting statistic beside [[anomalousHours]]' trailing-3σ
    * flags): per (type, dow 0=Monday, hod UTC), hours observed, total
    * events, truncating-integer mean (×10^6), and the seasonal LIFT vs
    * the type's overall hourly mean (×10^6, cross-multiplied exact —
    * lift 2_000_000 = "this weekday-hour runs 2× the type's average").
    * Zero-fill matters: computing means over only OBSERVED hours
    * overstates quiet cells, so the grid rides on [[activityGapfill]]'s
    * clock-bounded dense series.
    *
    * Scale shape: dense-series build (gap-fill's own plan) → ONE hash
    * aggregate to the types×168 cell frame — everything after operates
    * on that bounded frame; type totals re-aggregate the CELLS (never
    * the corpus) and broadcast back. Products ride in DECIMAL(38,0)
    * (DuckDB HUGEINT) so cnt_sum·t_hours·10^6 can't overflow at any
    * real scale; all operands non-negative, so Spark `div` ≡ DuckDB
    * `//`. */
  def seasonalProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = activityGapfill(spark, sfDir)
      .select(col("event_type"), expr("hour_sec div 3600").as("h"),
        col("cnt"))
      .select(col("event_type"),
        expr("((h div 24) + 3) % 7").as("dow"),
        expr("h % 24").as("hod"), col("cnt"))
      .groupBy(col("event_type"), col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("cnt_sum"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("n_hours")).as("t_hours"),
        sum(col("cnt_sum")).as("t_sum"))
    cells.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("hod"), col("n_hours"),
        col("cnt_sum"),
        expr("cast((cast(cnt_sum as decimal(38,0)) * 1000000)" +
          " div n_hours as bigint)").as("mean_micro"),
        expr("""cast(CASE WHEN t_sum = 0 THEN 0
          |  ELSE (cast(cnt_sum as decimal(38,0)) * t_hours * 1000000)
          |       div (cast(n_hours as decimal(38,0)) * t_sum)
          |END as bigint)""".stripMargin).as("lift_micro"))
  }

  /** PER-TYPE VALUE OUTLIER AUDIT — [[anomalousHours]]' integer-exact
    * 3σ rule turned onto the VALUE column: per event type, how many
    * events sit more than 3 standard deviations from the type's mean
    * value ((n·v − s)² > 9·(n·ssq − s²), quadratics in DECIMAL(38) —
    * no float mean, no sqrt, identical in both engines), with the
    * truncating mean and exact-ppm outlier share — the fraud/billing
    * sanity check a revenue pipeline runs before trusting a day's sums.
    *
    * Plan: one per-type moment aggregate (|types| rows, broadcast back
    * into the scan), one flag projection, one closing aggregate — two
    * map-side-combined passes, no window, no per-type sort. */
  def valueOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
    val moments = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("svv"))
    e.join(broadcast(moments), Seq("event_type"))
      .withColumn("isout",
        expr("""CASE WHEN
          |  (cast(n as decimal(38,0)) * v - sv) *
          |  (cast(n as decimal(38,0)) * v - sv) >
          |  9 * (cast(n as decimal(38,0)) * svv -
          |       cast(sv as decimal(38,0)) * sv)
          |THEN 1 ELSE 0 END""".stripMargin).cast("long"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"),
        first(expr("sv div n")).as("mean_micro"),
        sum(col("isout")).as("n_outliers"))
      .select(col("event_type"), col("n"), col("mean_micro"),
        col("n_outliers"),
        expr("(n_outliers * 1000000) div n").as("outlier_ppm"))
  }

  /** HOT-KEY SKEW AUDIT — the one-row diagnosis an engineer reads
    * BEFORE choosing a partitioning strategy (salting, AQE skew join,
    * key isolation — `graft.ops.ScaleOps`): over per-user event counts,
    * the population size, total events, max/p50/p90/p99 per-key counts
    * (exact rank picks over the count histogram), and the exact-ppm
    * share of the single heaviest key and of the top-10 — a top-1 share
    * in whole percents at a billion users IS the straggler.
    *
    * Plan: ONE per-user hash aggregate (map-side combined); the
    * quantiles come from a (count, users) histogram bounded by the
    * count DOMAIN (the conversionLatency argument); the top-10 side is
    * a bounded TakeOrderedAndProject — every post-aggregate frame is
    * tiny at any corpus size. */
  def eventSkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Exec.finish(RelOps.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt")))
    val quants = counts.groupBy(col("cnt").as("mv"))
      .agg(count(lit(1)).as("k"))
      .withColumn("cum", sum(col("k")).over(
        Window.orderBy(col("mv").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("k")).over(Window.partitionBy(lit(1))))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("mv")))
          .as("p50_cnt"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("mv")))
          .as("p90_cnt"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("mv")))
          .as("p99_cnt"))
    val top10 = counts
      .orderBy(col("cnt").desc, col("user_id").asc).limit(10)
      .agg(sum(col("cnt")).as("top10"))
    counts
      .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("n_events"),
        max(col("cnt")).as("max_cnt"))
      .crossJoin(broadcast(quants))
      .crossJoin(broadcast(top10))
      .select(col("n_users"), col("n_events"), col("max_cnt"),
        col("p50_cnt"), col("p90_cnt"), col("p99_cnt"),
        expr("(max_cnt * 1000000) div n_events").as("top1_share_ppm"),
        expr("(top10 * 1000000) div n_events").as("top10_share_ppm"))
  }

  /** COHORT LTV CURVE — the revenue companion of [[retentionCohorts]]:
    * per signup cohort (a user's FIRST signup day) × age offset (dense
    * 0..max, zero-filled like [[activityGapfill]] so the curve has no
    * holes), the cohort size, cumulative micro revenue through that age,
    * and LTV = cumulative revenue div cohort users (truncating) — the
    * payback-period readout a growth team plots per acquisition cohort.
    *
    * Plan: cohort = one signup hash aggregate; purchases join it on the
    * co-partitionable user_id key; the dense (cohort, age) grid comes
    * from a `sequence` explode bounded by the CLOCK (days), and the
    * cumulative sum windows per cohort over that clock-bounded grid —
    * never over raw purchases. At 100 TB: one equi-join + two hash
    * aggregates + a grid-sized window. */
  def userLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
      .select(col("user_id"),
        expr(s"(ts div 1000) div $DayUs").as("day"), col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
    // pinned: the per-user cohort frame feeds both the size aggregate
    // and the purchase join
    val cohorts = Exec.finish(e.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort")))
    val users = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"))
    // Salted like [[retentionCohorts]]' cohort join (the same hot-key ×
    // non-broadcastable-per-user-dim shape — a bot user's purchases
    // would serialize on one reducer); result exactly the plain join.
    val rev = graft.ops.ScaleOps.saltedJoin(
        e.where(col("event_type") === "purchase"), cohorts, "user_id",
        CohortJoinSalts)
      .where(col("day") >= col("cohort"))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("age_day"))
      .agg(sum(col("v")).as("rev"))
    val d1 = e.agg(max(col("day")).as("d1"))
    val grid = users.crossJoin(broadcast(d1))
      .select(col("cohort"), col("n_users"),
        explode(sequence(lit(0L), col("d1") - col("cohort")))
          .as("age_day"))
    val cum = Window.partitionBy(col("cohort")).orderBy(col("age_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(rev, Seq("cohort", "age_day"), "left")
      .withColumn("cum_rev_micro",
        sum(coalesce(col("rev"), lit(0L))).over(cum))
      .select((col("cohort") * 86400L).as("cohort_sec"), col("age_day"),
        col("n_users"), col("cum_rev_micro"),
        expr("cum_rev_micro div n_users").as("ltv_micro"))
  }

  /** SESSION SUMMARY — the one-row health readout over [[sessionize]]'s
    * islands: session count, BOUNCE RATE (single-event sessions, exact
    * ppm), median/p90 events-per-session and session duration (seconds),
    * and the truncating mean session value. Quantiles follow the
    * engine's exact rank-pick discipline — the element AT rank
    * ⌈q·n⌉ over a (value, count) histogram, never float interpolation.
    *
    * Plan: the sessionize aggregate (one user_id shuffle) feeds two
    * histograms whose sizes are bounded by the VALUE DOMAINS
    * (events-per-session / whole-second durations — the
    * conversionLatency argument), each with one cumulative window over
    * the histogram only; counters ride in the same tiny aggregates. */
  def sessionSummary(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: the session frame feeds three branches (counters + two
    // histograms) — without the pin each re-runs the sessionize windows
    val s = Exec.finish(sessionize(spark, sfDir))
    def pick(df: DataFrame, vcol: String): DataFrame =
      df.groupBy(col(vcol).as("mv")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(col("mv").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(lit(1))))
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("mv")))
            .as(s"p50_$vcol"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("mv")))
            .as(s"p90_$vcol"))
    val counters = s.agg(
      count(lit(1)).as("n_sessions"),
      sum((col("n_events") === 1L).cast("long")).as("bounces"),
      sum(col("val_micro")).as("val_sum"))
      .select(col("n_sessions"),
        expr("(bounces * 1000000) div n_sessions").as("bounce_ppm"),
        expr("val_sum div n_sessions").as("mean_val_micro"))
    counters
      .crossJoin(broadcast(pick(s, "n_events")))
      .crossJoin(broadcast(pick(s, "dur_sec")))
      .select(col("n_sessions"), col("bounce_ppm"),
        col("p50_n_events"), col("p90_n_events"),
        col("p50_dur_sec"), col("p90_dur_sec"), col("mean_val_micro"))
  }

  /** DAU / WAU / MAU + STICKINESS — the engagement dashboard's first
    * row, exact tier: per observed epoch day, distinct active users that
    * day (DAU), over the trailing 7 days (WAU), the trailing 30 days
    * (MAU), and stickiness = DAU·10⁶ div MAU (exact ppm). The EXACT
    * rolling uniques come from the explode-to-target-day device
    * ([[graft.pipeline.RelOps.hllRollingUsers]]'s quality column, here
    * as the primary): each distinct (day, user) pair contributes to the
    * ≤30 target days its activity covers, so the rolling distinct is a
    * plain hash aggregate — no windowed set union.
    *
    * Scale: the shuffled relation is the DISTINCT (day, user) pair set
    * (dimension-sized: days × active users, already 4-6 orders below
    * the event count) exploded ≤37×; every stage after is a hash
    * aggregate on (day, user) or day. At extreme user counts the HLL
    * register tier ([[graft.pipeline.RelOps.hllRollingUsers]]) is the
    * documented sketch path — this operator is the exact twin the
    * sketch is judged against. */
  def dauStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: the dimension-sized distinct pair set feeds FOUR branches
    // (dau, wau, mau, bounds) — without the pin each re-scans the corpus
    val du = Exec.finish(RelOps.events(spark, sfDir)
      .select(expr(s"(ts div 1000) div $DayUs").as("day"), col("user_id"))
      .distinct())
    val bounds = du.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    def rolling(span: Int, name: String): DataFrame =
      du.select(explode(sequence(col("day"),
          col("day") + lit(span - 1))).as("tday"), col("user_id"))
        .distinct()
        .groupBy(col("tday")).agg(count(lit(1)).as(name))
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau
      .join(rolling(7, "wau").withColumnRenamed("tday", "day"),
        Seq("day"))
      .join(rolling(30, "mau").withColumnRenamed("tday", "day"),
        Seq("day"))
      .crossJoin(broadcast(bounds))
      .where(col("day") >= col("d0") && col("day") <= col("d1"))
      .select((col("day") * 86400L).as("day_sec"), col("dau"),
        col("wau"), col("mau"),
        expr("(dau * 1000000) div mau").as("stickiness_ppm"))
  }

  /** RFM CUSTOMER SCORING — the classic segmentation statistic: per user
    * with ≥1 purchase, Recency (whole days since last purchase, anchored
    * at the corpus' max event time so the query is reproducible),
    * Frequency (purchase count) and Monetary (micro-unit purchase value
    * sum), each scored 1-5 by corpus quintile. Scores are VALUE-based,
    * not positional: the quintile boundary values are rank-picked
    * (element AT rank ⌈i·n/5⌉ — the engine's exact-quantile discipline,
    * no float interpolation, no ntile tie-splitting), and every user
    * strictly above boundary i scores at least i+1 — so equal metric
    * values ALWAYS get equal scores, which positional ntile cannot
    * promise. `rfm` packs the three digits (e.g. 555 = best cohort).
    *
    * Plan: one events scan → per-user purchase aggregate; each metric's
    * boundaries come from a (metric value, user count) HISTOGRAM —
    * bounded by the metric's value DOMAIN (days / counts / whole
    * currency units), not the user count, the conversionLatency
    * discipline — with one cumulative window over the histogram only;
    * the three 1-row boundary frames broadcast back onto the user frame.
    * No global user sort anywhere at any scale. */
  def rfmScores(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
    // reproducible "now": the corpus' max event time (1-row broadcast)
    val anchor = e.agg(max(col("tus")).as("anchor_tus"))
    val base = Exec.finish(
      e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("f_cnt"), sum(col("v")).as("m_micro"),
          max(col("tus")).as("last_tus"))
        .crossJoin(broadcast(anchor))
        .select(col("user_id"),
          expr(s"(anchor_tus - last_tus) div $DayUs").as("r_days"),
          col("f_cnt"), col("m_micro"),
          expr("m_micro div 1000000").as("m_units")))
    // quintile boundaries of `metric` ("higher = better" orientation):
    // 1-row frame (b1..b4) via the bounded-histogram rank pick
    def cuts(metric: Column, p: String): DataFrame = {
      val cum = base.groupBy(metric.as("mv"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(col("mv").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(lit(1))))
      cum.agg(
        min(when(col("cum") >= expr("(1*n + 4) div 5"), col("mv")))
          .as(s"${p}1"),
        min(when(col("cum") >= expr("(2*n + 4) div 5"), col("mv")))
          .as(s"${p}2"),
        min(when(col("cum") >= expr("(3*n + 4) div 5"), col("mv")))
          .as(s"${p}3"),
        min(when(col("cum") >= expr("(4*n + 4) div 5"), col("mv")))
          .as(s"${p}4"))
    }
    def score(metric: Column, p: String): Column =
      lit(1L) + (metric > col(s"${p}1")).cast("long") +
        (metric > col(s"${p}2")).cast("long") +
        (metric > col(s"${p}3")).cast("long") +
        (metric > col(s"${p}4")).cast("long")
    // recency scored on the NEGATED day count (more recent = higher)
    val allCuts = cuts(-col("r_days"), "rb")
      .crossJoin(cuts(col("f_cnt"), "fb"))
      .crossJoin(cuts(col("m_units"), "mb"))
    base.crossJoin(broadcast(allCuts))
      .withColumn("r_score", score(-col("r_days"), "rb"))
      .withColumn("f_score", score(col("f_cnt"), "fb"))
      .withColumn("m_score", score(col("m_units"), "mb"))
      .select(col("user_id"), col("r_days"), col("f_cnt"), col("m_micro"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
          .as("rfm"))
  }

  /** A/B EXPERIMENT READOUT — deterministic assignment + per-arm
    * metrics in one query: every user hashes into arm 0 (control) or 1
    * (treatment) by the salted 60-bit MD5 hash (salt "ab:" decorrelates
    * the split from the eval-split and domain-cap hashes — the D19/D28
    * discipline), then each arm reports users, buyers, exact ppm
    * conversion, purchase count, micro revenue, and truncating ARPU.
    * The assignment is the point: it is stable under reordering,
    * repartitioning and re-runs, so the experiment read never shifts.
    *
    * Plan: one events scan → (arm, user) hash aggregate → 2-row arm
    * aggregate; everything after the first aggregate is dimension-sized.
    * No window, no join, no driver state — at 100 TB this is two
    * map-side-combined shuffles. */
  def abTestMetrics(spark: SparkSession, sfDir: String): DataFrame =
    RelOps.events(spark, sfDir)
      .select(
        graft.functions.HashFns.hash60(
          concat(lit("ab:"), col("user_id").cast("string"))).%(2L)
          .as("arm"),
        col("user_id"),
        (col("event_type") === "purchase").cast("long").as("p"),
        when(col("event_type") === "purchase",
          round(col("value") * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)).as("v"))
      .groupBy(col("arm"), col("user_id"))
      .agg(sum(col("p")).as("purchases"), sum(col("v")).as("rev"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum((col("purchases") > 0L).cast("long")).as("n_buyers"),
        sum(col("purchases")).as("n_purchases"),
        sum(col("rev")).as("revenue_micro"))
      .select(col("arm"), col("n_users"), col("n_buyers"),
        expr("(n_buyers * 1000000) div n_users").as("conv_ppm"),
        col("n_purchases"), col("revenue_micro"),
        expr("revenue_micro div n_users").as("arpu_micro"))

  def columnProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
    val valueMicro = expr("CAST(ROUND(value * 1000000.0) AS BIGINT)")
    val noNum = lit(null).cast("long")
    val noStr = lit(null).cast("string")
    // (name, canonical string repr, numeric-order repr, string-order repr)
    val tagged = Seq(
      ("event_id", col("event_id").cast("string"), col("event_id"), noStr),
      ("ts", expr("ts div 1000").cast("string"), expr("ts div 1000"),
        noStr),
      ("user_id", col("user_id").cast("string"), col("user_id"), noStr),
      ("event_type", col("event_type"), noNum, col("event_type")),
      ("value", valueMicro.cast("string"), valueMicro, noStr),
      ("props", col("props"), noNum, col("props")))
    e.select(explode(array(tagged.map { case (n, s, num, so) =>
        struct(lit(n).as("col_name"), s.as("repr"), num.as("num_ord"),
          so.as("str_ord"))
      }: _*)).as("c"))
      .select(col("c.*"))
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("repr"))).as("n_null"),
        countDistinct(col("repr")).as("n_distinct"),
        coalesce(min(col("num_ord")), lit(-1L)).as("min_num"),
        coalesce(max(col("num_ord")), lit(-1L)).as("max_num"),
        coalesce(min(col("str_ord")), lit("")).as("min_str"),
        coalesce(max(col("str_ord")), lit("")).as("max_str"),
        coalesce(sum(length(col("repr"))), lit(0L)).as("len_sum"))
  }

  /** BURSTINESS AUDIT — the index of dispersion (Fano factor,
    * variance-to-mean ratio) of the gap-filled hourly count series per
    * event type: a Poisson-like steady stream sits near 1, bursty
    * traffic (campaign spikes, batch replays, bot storms) runs far
    * above — the one-number answer to "is this event steady or spiky",
    * read before sizing stream capacity. EXACT integers only:
    * `fano_ppm = ((n·Σc² − (Σc)²) · 1e6) div (n·Σc)` with DECIMAL(38)
    * quadratics (HUGEINT in the oracle), `bursty` flag at > 2×.
    * Output (event_type, n_hours, mean_milli, fano_ppm, bursty).
    *
    * Plan: the gap-filled hourly relation (time-domain bounded) feeds
    * ONE three-sum aggregate per type — no window, no second pass. */
  val FanoPpmMax = 2000000L

  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = RelOps.events(spark, sfDir)
      .select(col("event_type"), expr("(ts div 1000) div " + HourUs).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val filled = grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    filled.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("s"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("ssq"))
      .select(col("event_type"), col("n_hours"),
        expr("(s * 1000) div n_hours").as("mean_milli"),
        expr("""cast(((cast(n_hours as decimal(38,0)) * ssq -
                |  cast(s as decimal(38,0)) * s) * 1000000) div
                |  (cast(n_hours as decimal(38,0)) * s) as bigint)"""
          .stripMargin).as("fano_ppm"))
      .withColumn("bursty",
        (col("fano_ppm") > FanoPpmMax).cast("long"))
  }

  /** CUSUM CHANGE-POINT DETECTION (Page 1954, "Continuous inspection
    * schemes") over the gap-filled hourly count series — the sequential
    * drift detector that catches a sustained small shift long before a
    * per-hour 3σ rule ([[anomalousHours]]) fires: per event type, the
    * two one-sided cumulative sums
    * `S⁺_h = max(0, S⁺_{h-1} + c_h − μ − κ)` /
    * `S⁻_h = max(0, S⁻_{h-1} + μ − κ − c_h)` with reference μ = the
    * type's truncating mean hourly count, slack κ = μ div 4, alarm at
    * S > 2μ — all integers, so the recursion is bit-reproducible.
    * Output (event_type, hour_sec, cnt, s_pos, s_neg, alarm).
    *
    * Plan note: CUSUM is INHERENTLY sequential (a max-clamped
    * recurrence has no window-sum decomposition), so the fold runs as
    * one typed `flatMapGroups` per event type over the gap-filled
    * series — a relation bounded by the TIME domain (hours in the
    * window: ~9k rows/type-year), never by event volume; the corpus
    * pays only the hourly hash aggregate feeding it. The oracle replays
    * the same recurrence via a recursive CTE stepping the hour index. */
  def cusumDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = RelOps.events(spark, sfDir)
      .select(col("event_type"), expr("(ts div 1000) div " + HourUs).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val filled = grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val params = filled.groupBy(col("event_type"))
      .agg(expr("sum(cnt) div count(1)").as("mu"))
    filled.join(broadcast(params), Seq("event_type"))
      .select(col("event_type"), col("h"), col("cnt"), col("mu"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, Long, Long, Long)]) =>
        val rows = it.toSeq.sortBy(_._2) // bounded by the hour span
        val mu = rows.head._4
        val k = mu / 4
        val th = 2 * mu
        var sp = 0L
        var sn = 0L
        rows.map { case (_, hr, c, _) =>
          sp = math.max(0L, sp + c - mu - k)
          sn = math.max(0L, sn + (mu - k) - c)
          (t, hr * 3600L, c, sp, sn, if (sp > th || sn > th) 1L else 0L)
        }
      }
      .toDF("event_type", "hour_sec", "cnt", "s_pos", "s_neg", "alarm")
  }

  /** Sweep chunk width of [[concurrentSessions]] (µs): one minute, so
    * the within-chunk rank partition splits each hour's delta volume
    * into 60 independent tasks. Exactness never depends on it. */
  val SweepChunkUs: Long = 60L * 1000000L

  /** MAX-CONCURRENCY TIME SERIES — the capacity-planning statistic
    * (peak simultaneous sessions per hour — what an ops team sizes
    * connection pools and autoscaling against): the classic sweep-line
    * over the [[sessionize]] intervals (+1 at session start, −1 just
    * after session end, running sum = live-session count), rolled to
    * per-hour `max_concurrent` (including the hour-start carry, so an
    * hour whose only deltas are departures still reports the level it
    * started at) and `end_concurrent`, gap-filled over the full hour
    * span. Tie groups share (t, delta), so every permutation yields the
    * same after-row value SET — the hourly max is order-independent and
    * exactly mirrored in DuckDB's definitional window replay.
    *
    * 100 TB shape: the global running sum is the two-phase
    * [[graft.ops.ChatOps.chunkedRunningSum]] (chunk = [[SweepChunkUs]])
    * — no single-task full-history sort; the per-hour rollup is one
    * hash aggregate; the carry window and gap-fill grid live on the
    * CLOCK-bounded hourly relation (8760 rows/year at any corpus
    * size). */
  def concurrentSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    // pinned: the interval frame feeds both delta selects, which each
    // feed both chunkedRunningSum phases — without the pin the
    // sessionize windows re-run four times over the raw events
    val iv = Exec.finish(RelOps.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"))
      .withColumn("prev_tus", lag(col("tus"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_tus").isNull ||
          col("tus") - col("prev_tus") > lit(SessionGapUs), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("sess", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("tus")).as("start_us"), max(col("tus")).as("end_us")))
    val d = iv.select(col("start_us").as("t"), lit(1L).as("delta"))
      .unionByName(iv.select((col("end_us") + 1).as("t"),
        lit(-1L).as("delta")))
    val run = graft.ops.ChatOps.chunkedRunningSum(d, col("delta"),
      Seq.empty, Seq(col("t"), col("delta")), "run",
      chunkWidth = SweepChunkUs)
    val hr = run.select(expr(s"t div $HourUs").as("h"), col("delta"),
        col("run"))
      .groupBy(col("h"))
      .agg(max(col("run")).as("hmax"), sum(col("delta")).as("net"))
    val bounds = hr.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = broadcast(bounds)
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val filled = grid.join(hr, Seq("h"), "left")
      .select(col("h"), col("hmax"), coalesce(col("net"), lit(0L)).as("net"))
    val w = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    filled.withColumn("carry", coalesce(sum(col("net")).over(w), lit(0L)))
      .select((col("h") * 3600L).as("hour_sec"),
        greatest(coalesce(col("hmax"), col("carry")), col("carry"))
          .as("max_concurrent"),
        (col("carry") + col("net")).as("end_concurrent"))
  }

  /** EWMA SMOOTHING of the dense hourly series, α = 1/4 — the classic
    * exponentially-weighted level every monitoring stack draws under
    * its raw counts (and the forecasting baseline CUSUM-style detectors
    * compare against): per event type over the gap-filled hourly
    * counts, `s_0 = c_0`, `s_t = (3·s_{t-1} + c_t) / 4`, carried in
    * exact micro units with truncating integer division so the oracle's
    * `WITH RECURSIVE` replay is bit-identical (all terms non-negative —
    * truncation ≡ floor; `3·s` stays far inside int64 until hourly
    * counts approach 6×10^11). Output (event_type, hour_sec, cnt,
    * ewma_micro).
    *
    * Plan: the recursion is inherently serial per type, but its input
    * is the CLOCK-bounded dense hourly frame (8760 rows/type/year
    * regardless of corpus size — the [[cusumDrift]] argument), so the
    * per-type fold in `flatMapGroups` touches thousands of rows, never
    * the raw events; the corpus pays one scan + one hash aggregate. */
  def ewmaSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = RelOps.events(spark, sfDir)
      .select(col("event_type"), expr("(ts div 1000) div " + HourUs).as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, Long, Long)]) =>
        val rows = it.toSeq.sortBy(_._2) // bounded by the hour span
        var sm = -1L
        rows.map { case (_, h, c) =>
          sm = if (sm < 0) c * 1000000L else (3L * sm + c * 1000000L) / 4L
          (t, h * 3600L, c, sm)
        }
      }
      .toDF("event_type", "hour_sec", "cnt", "ewma_micro")
  }

  /** DURBIN-WATSON SERIAL-CORRELATION DIAGNOSTIC (Durbin & Watson
    * 1950) over the gap-filled hourly series — the time-series family's
    * fifth member (burstiness = dispersion, cusumDrift = level shift,
    * ewmaSmooth = trend, valueDrift = distribution): per event type,
    * `DW = Σ(x_t − x_{t−1})² / Σ(x_t − x̄)²` — DW ≈ 2(1−ρ₁), so ≈ 2 is
    * white noise, ≪ 2 positive autocorrelation (bursty/trending load),
    * ≫ 2 negative (oscillation). The whole statistic is SQRT-FREE —
    * why it's the serial-correlation readout an integer engine can make
    * exact where Pearson's ρ cannot be: cross-multiply the mean out,
    * `dw_ppm = 10^6 · n · Σd² div (n·Σx² − (Σx)²)` with the quadratics
    * in DECIMAL(38)/HUGEINT. Output (event_type, n_hours, dw_ppm,
    * positive_autocorr = dw_ppm < 1.5·10^6 — the classic d_L-style
    * alert band). Zero-variance series (single hour, or constant
    * counts) have an undefined DW and are DROPPED — identically in
    * engine and oracle, never a NULL-vs-division-error divergence.
    *
    * Plan: the [[activityGapfill]] grid (ROWS lag ≡ hour lag only on a
    * DENSE series), one lag window + one five-sum aggregate per type —
    * all on the CLOCK-bounded hourly relation. */
  def eventAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val lagW = Window.partitionBy(col("event_type"))
      .orderBy(col("hour_sec"))
    activityGapfill(spark, sfDir)
      .withColumn("prev", lag(col("cnt"), 1).over(lagW))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("cnt")).as("s"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("sq"),
        sum(when(col("prev").isNotNull,
          (col("cnt") - col("prev")).cast("decimal(38,0)") *
            (col("cnt") - col("prev"))).otherwise(lit(0L))).as("sd"))
      // zero-variance guard: a constant (or single-hour) series has
      // n·Σx² − (Σx)² = 0 and DW is undefined — dropped identically by
      // engine and oracle rather than NULL-vs-error divergence
      .where(expr("n_hours * sq - CAST(s AS DECIMAL(38,0)) * s > 0"))
      .select(col("event_type"), col("n_hours"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * n_hours * sd)
          |     div (n_hours * sq - CAST(s AS DECIMAL(38,0)) * s)
          |  AS BIGINT)""".stripMargin).as("dw_ppm"))
      .withColumn("positive_autocorr",
        (col("dw_ppm") < lit(1500000L)).cast("long"))
  }

  /** Drift-alarm threshold: total-variation distance above 10% flags
    * the metric as drifted. */
  val DriftTvPpmMax = 100000L

  /** VALUE-DISTRIBUTION DRIFT MONITOR — the data-drift check a feature
    * pipeline runs between snapshots before trusting a model trained on
    * the old distribution: per event_type, the EXACT total-variation
    * distance between the value histograms of the first and second
    * month half (split at [[MidmonthTus]], the SCD2 tier's as-of
    * boundary), in ppm with pure integer cross-multiplication —
    * TV = Σ_b |c1_b·n2 − c2_b·n1| / (2·n1·n2), so
    * `tv_ppm = (Σ|…| · 500000) div (n1·n2)` with DECIMAL(38) products
    * (HUGEINT in the oracle) — no float anywhere. Buckets are half-unit
    * steps of v_micro under FLOOR division — written
    * `(v − pmod(v, s)) div s` on the Spark side so a negative value
    * buckets identically to DuckDB's flooring `//` (plain `div`
    * truncates toward zero and would disagree below zero). Output
    * (event_type, n_first, n_second, tv_ppm, drifted).
    *
    * Plan: ONE (type, half, bucket) hash aggregate over the scan
    * (map-side combined, bounded by type·bucket domain), a full-join
    * reshape of the two halves, one per-type sum — no window, no
    * self-scan. */
  def valueDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
      .select(col("event_type"),
        (expr("ts div 1000") > MidmonthTus).cast("long").as("half"),
        expr("""(cast(round(value * 1000000.0) as bigint)
                | - pmod(cast(round(value * 1000000.0) as bigint), 500000))
                | div 500000""".stripMargin).as("bkt"))
    val hist = e.groupBy(col("event_type"), col("bkt")).agg(
      sum(when(col("half") === 0L, 1L).otherwise(0L)).as("c1"),
      sum(when(col("half") === 1L, 1L).otherwise(0L)).as("c2"))
    val tots = hist.groupBy(col("event_type")).agg(
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    hist.join(broadcast(tots), Seq("event_type"))
      .select(col("event_type"), col("n1"), col("n2"),
        expr("""abs(cast(c1 as decimal(38,0)) * n2 -
                |    cast(c2 as decimal(38,0)) * n1)""".stripMargin)
          .as("num"))
      .groupBy(col("event_type"))
      .agg(first(col("n1")).as("n_first"), first(col("n2")).as("n_second"),
        sum(col("num")).as("l1"))
      .select(col("event_type"), col("n_first"), col("n_second"),
        expr("""cast((l1 * 500000) div
                |  (cast(n_first as decimal(38,0)) * n_second)
                |  as bigint)""".stripMargin).as("tv_ppm"))
      .withColumn("drifted",
        (col("tv_ppm") > DriftTvPpmMax).cast("long"))
  }

  /** WINSORIZATION — the standard robust-preprocessing clip a feature
    * pipeline applies before training on heavy-tailed metrics: per
    * event_type, values clamp to the exact [p5, p95] percentile band
    * (ceil-rank picks over the value histogram — the
    * [[graft.pipeline.DataOps.lengthQuantiles]] discipline), with the
    * original and clipped micro-unit values plus a 0/1 `clipped` flag
    * per event. Unlike [[valueOutliers]]' 3σ *flagging*, winsorizing
    * REPLACES the tails, so the output is the cleaned feature column
    * itself.
    *
    * Plan: the histogram aggregates per (type, DISTINCT value) —
    * bounded by the value domain, far below event count; the cumulative
    * window walks that reduced relation; the L-row threshold frame
    * broadcasts back into one clamp projection over the scan. No window
    * ever touches raw rows. */
  /** Per-type ceil-rank median of `vcol` over `df` — the engine's
    * histogram rank-pick (element AT a rank, no interpolation), shared
    * by [[madOutliers]]'s two median passes. */
  private def medianOf(df: DataFrame, vcol: String,
      out: String): DataFrame =
    df.groupBy(col("event_type"), col(vcol))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col(vcol).asc)))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col(vcol)))
        .as(out))

  /** MAD ROBUST OUTLIERS — the median/MAD tier beside [[valueOutliers]]'
    * mean-3σ flags (the Leys et al. 2013 recommendation: mean and σ are
    * themselves corrupted by the outliers they're meant to find, median
    * and MAD are not): per event type, median value and the median
    * absolute deviation via the engine's exact ceil-rank histogram
    * picks, then flag events where |v − med| > 3·1.4826·MAD — the
    * consistency constant as the exact rational 44478/10^4, so the
    * comparison `10^4·|v−med| > 44478·mad` is pure int64 (micro values
    * ≤ ~10^9 keep the products < 10^14). Output (event_id, event_type,
    * v_micro, med_micro, mad_micro, robust_outlier).
    *
    * Plan: two histogram aggregates, each bounded by the (type, value)
    * domain — never a window over raw rows; the two |types|-row median
    * frames broadcast back into one scan-speed flag projection. */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
    val med = medianOf(e, "v", "med_micro")
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("v") - col("med_micro")))
    val mad = medianOf(dev, "dev", "mad_micro")
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("v").as("v_micro"),
        col("med_micro"), col("mad_micro"),
        (col("dev") * lit(10000L) > col("mad_micro") * lit(44478L))
          .cast("long").as("robust_outlier"))
  }

  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = RelOps.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000000.0)).cast("long").as("v"))
    val hist = e.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v").asc)))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
    val th = cum.groupBy(col("event_type")).agg(
      min(when(col("cum") >= expr("(n + 19) div 20"), col("v"))).as("lo"),
      min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("v")))
        .as("hi"))
    e.join(broadcast(th), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("v").as("v_micro"),
        greatest(col("lo"), least(col("hi"), col("v")))
          .as("v_winsor_micro"))
      .withColumn("clipped",
        (col("v_winsor_micro") =!= col("v_micro")).cast("long"))
  }
}
