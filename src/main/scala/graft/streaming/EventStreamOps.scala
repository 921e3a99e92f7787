package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Model.{Attribution, ClickState, EwmaState, FunnelRow, FunnelState, Scd2Open, Scd2Row, StreamEvent}

/**
 * Structured Streaming forms of the event-analytics operators
 * ([[graft.pipeline.EventOps]]) — sessionization through Spark's native
 * `session_window` and the as-of attribution join as a keyed stateful
 * operator, the two shapes a live clickstream pipeline runs.
 *
 * Scale: both shard state by `user_id` through the normal hash exchange.
 * Session state per key is one open window; as-of state is ONE
 * [[ClickState]] (two longs) per user — no buffered rows anywhere.
 */
object EventStreamOps {

  /** Allowed event-time disorder of every operator here (and of
    * [[StreamingOps.toxicWindows]] in TTL mode): late rows beyond it are
    * dropped by the engine. */
  val EventWatermark = "1 hour"

  /** Event-time column: exact nanos truncated to microseconds (Spark
    * timestamps are micro-precision). */
  private def withTs(events: Dataset[StreamEvent]): DataFrame =
    events.toDF().withColumn("ts",
      timestamp_micros(expr("tns div 1000")))

  /** Streaming sessionization via the native `session_window` (30-min
    * gap): per closed session, (user_id, start_sec, n_events,
    * val_micro). Boundary note vs the batch twin
    * ([[graft.pipeline.EventOps.sessionize]]): the batch gaps-and-islands
    * rule keeps an EXACTLY-30-min gap in one session (`> gap` breaks),
    * while `session_window` treats touching-but-not-overlapping windows
    * as separate; the two agree on every gap ≠ 30:00.000000 exactly —
    * at microsecond timestamps a measure-zero event, pinned equal on the
    * fixture by EventStreamSpec. Watermarked so sessions close and state
    * is evicted; append mode emits each session once, final. */
  def sessionizeStream(events: Dataset[StreamEvent]): DataFrame =
    withTs(events)
      .withWatermark("ts", EventWatermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("val_micro"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_sec"),
        col("n_events"), col("val_micro"))

  /** Streaming range join (the twin of
    * [[graft.pipeline.EventOps.rangeJoinRecentErrors]]) via Spark's
    * NATIVE stream-stream time-interval join: both sides watermarked, the
    * `p_ts BETWEEN e_ts AND e_ts + 6h` range condition bounds the join
    * state so expired errors are evicted — then a windowed aggregation
    * CHAINED after the join (multiple-stateful-operators; the 1-h window
    * on the group key is what lets append mode emit, each purchase lives
    * in exactly one window). Gap arithmetic is on µs-truncated integers
    * (`tns div 1000`) — the engine's cross-engine time grain
    * ([[graft.pipeline.EventOps]]) — so the inclusion edge and
    * floor-second gaps match the batch plan bit-for-bit. */
  def rangeJoinRecentErrorsStream(
      events: Dataset[StreamEvent]): DataFrame = {
    val e = withTs(events)
    val errs = e.where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("tns").as("e_tns"))
      .withWatermark("e_ts", EventWatermark)
    val purch = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("tns").as("p_tns"))
      .withWatermark("p_ts", EventWatermark)
    purch.join(errs, expr(
        s"""user_id = e_user AND
           |p_ts >= e_ts AND p_ts <= e_ts + interval 6 hours AND
           |p_tns div 1000 >= e_tns div 1000 AND
           |p_tns div 1000 - e_tns div 1000 <=
           |  ${graft.pipeline.EventOps.LookbackUs}L
           |""".stripMargin))
      .groupBy(window(col("p_ts"), "1 hour"), col("purchase_id"),
        col("user_id"))
      .agg(count(lit(1)).as("n_recent_errors"),
        min(expr("(p_tns div 1000 - e_tns div 1000) div 1000000"))
          .as("min_gap_sec"))
      .select(col("purchase_id"), col("user_id"), col("n_recent_errors"),
        col("min_gap_sec"))
  }

  /** Streaming ordered funnel (the stateful twin of
    * [[graft.pipeline.EventOps.funnelSteps]]): per user, track the first
    * view, first click at-or-after it, and first purchase at-or-after
    * that, across micro-batches. Each batch that touches a user emits
    * the user's UPDATED funnel row — the LAST row per user equals the
    * batch plan's final answer (a changelog the sink compacts by key,
    * the same read pattern as [[graft.pipeline.EventOps.latestEventState]]).
    *
    * Within a batch the group's rows replay in µs-truncated (tus,
    * event_id) event order; across batches arrival must respect event
    * time per key (the engine contract shared with
    * [[asofAttributionStream]]). State is THREE optional longs per user
    * — O(1), never a buffered event — evicted by the same event-time
    * TTL measured from the user's LAST funnel progress.
    *
    * Cost note: O(1) refers to STATE carried across batches; the
    * in-batch sort (`it.toSeq.sortBy`) materializes one key's rows for
    * ONE micro-batch in executor memory — bounded by per-key batch
    * volume (trigger interval × key rate), not by stream length. A hot
    * key on a long trigger pays that buffer; shorten the trigger or
    * pre-bucket the key if a single key's per-batch volume is itself a
    * problem. */
  def funnelStream(events: Dataset[StreamEvent],
      ttlMs: Long = 30L * 86400L * 1000L): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    withTs(events)
      .withWatermark("ts", EventWatermark)
      .as[StreamEvent]
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (uid: Long, it: Iterator[StreamEvent],
            state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            // at equal µs a view must replay before a click before a
            // purchase — the batch plan's `>=` step inclusion admits
            // same-µs progressions regardless of event_id order
            val kindRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
            it.toSeq.sortBy(e =>
                (e.tns / 1000L, kindRank(e.event_type), e.event_id))
              .foreach { e =>
                val tus = e.tns / 1000L
                e.event_type match {
                  case "view" if s.v < 0 => s = s.copy(v = tus)
                  case "click" if s.c < 0 && s.v >= 0 && tus >= s.v =>
                    s = s.copy(c = tus)
                  case "purchase" if s.p < 0 && s.c >= 0 && tus >= s.c =>
                    s = s.copy(p = tus)
                  case _ => ()
                }
              }
            state.update(s)
            state.setTimeoutTimestamp(math.max(
              Seq(s.v, s.c, s.p).max / 1000L + ttlMs,
              state.getCurrentWatermarkMs() + 1L))
            val depth = if (s.p >= 0) 3L else if (s.c >= 0) 2L
              else if (s.v >= 0) 1L else 0L
            Iterator.single(FunnelRow(uid, s.v, s.c, s.p, depth))
          }
        })
  }

  /** Streaming HLL registers — the live-sketch twin of
    * [[graft.pipeline.RelOps.hllDistinctUsers]]'s register build: the
    * SAME md5-keyed (event_type, bucket) → max(ρ) aggregation runs as
    * an UPDATE-mode streaming aggregation, because `max` is monotone —
    * each micro-batch can only raise registers, so the streaming state
    * IS the sketch and is BOUNDED at types × 64 rows at any stream
    * length (the sketch-vs-exact-set argument, live: counting distinct
    * users exactly would hold per-user state). The estimator runs over
    * the 64-row-per-type register table wherever it lands (sink side /
    * the batch query's own tail) — chaining it in-stream would need a
    * second stateful aggregation. Pinned stream-registers ≡ batch in
    * EventStreamSpec. */
  def hllRegisterStream(events: Dataset[StreamEvent]): DataFrame =
    graft.pipeline.RelOps.hllRegisters(
      events.toDF().select(col("event_type"), col("user_id")))

  /** The stream's fields tagged long-form for the profiler twins:
    * (col_name, repr, num_ord, str_ord) per cell — the
    * [[graft.pipeline.EventOps.columnProfile]] tagging over
    * [[graft.model.Model.StreamEvent]]'s five fields (ts at the µs
    * cross-engine grain, value already micro). Shared by the streaming
    * AND the spec's batch comparator, so stream ≡ batch is pinned by
    * construction of everything except the aggregation mode. */
  private[graft] def profileLong(df: DataFrame): DataFrame = {
    val noNum = lit(null).cast("long")
    val noStr = lit(null).cast("string")
    val tagged = Seq(
      ("event_id", col("event_id").cast("string"), col("event_id"),
        noStr),
      ("ts", expr("tns div 1000").cast("string"), expr("tns div 1000"),
        noStr),
      ("user_id", col("user_id").cast("string"), col("user_id"), noStr),
      ("event_type", col("event_type"), noNum, col("event_type")),
      ("value", col("v").cast("string"), col("v"), noStr))
    df.select(explode(array(tagged.map { case (n, s, num, so) =>
        struct(lit(n).as("col_name"), s.as("repr"), num.as("num_ord"),
          so.as("str_ord"))
      }: _*)).as("c"))
      .select(col("c.*"))
  }

  /** LIVE COLUMN PROFILER — the ingest-time twin of
    * [[graft.pipeline.EventOps.columnProfile]]: per stream field,
    * row/null counts, min/max and total canonical width as ONE
    * update-mode streaming aggregation. Every stat is a monotone or
    * additive merge (count/sum/min/max), so the streaming state IS the
    * profile — exactly 5 rows at any stream length; each trigger
    * re-emits the keys it touched with the full-history value. The one
    * batch stat with no bounded-state streaming form is the EXACT
    * distinct count — that tier runs as [[profileNdvStream]]'s HLL
    * registers (the sketch-vs-exact-set argument of
    * [[hllRegisterStream]], applied per column). Pinned stream ≡ batch
    * across micro-batch boundaries in EventStreamSpec. */
  def columnProfileStream(events: Dataset[StreamEvent]): DataFrame =
    profileStats(events.toDF())

  /** The aggregation shared by [[columnProfileStream]] and the spec's
    * batch comparator (mode-independent: runs as a hash aggregate on a
    * batch frame, as bounded-state update-mode aggregation on a
    * stream). */
  private[graft] def profileStats(df: DataFrame): DataFrame =
    profileLong(df)
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("repr"))).as("n_null"),
        coalesce(min(col("num_ord")), lit(-1L)).as("min_num"),
        coalesce(max(col("num_ord")), lit(-1L)).as("max_num"),
        coalesce(min(col("str_ord")), lit("")).as("min_str"),
        coalesce(max(col("str_ord")), lit("")).as("max_str"),
        coalesce(sum(length(col("repr"))), lit(0L)).as("len_sum"))

  /** NDV tier of the live profiler: 64 HLL registers PER COLUMN over
    * the canonical repr — (col_name, bucket) → max(ρ) via the generic
    * [[graft.pipeline.RelOps.hllRegistersBy]], update-mode, state
    * bounded at 5 × 64 rows. Identical registers to the batch build on
    * the same data (max is order-free), so estimates agree exactly. */
  def profileNdvStream(events: Dataset[StreamEvent]): DataFrame =
    graft.pipeline.RelOps.hllRegistersBy(
      profileLong(events.toDF()).where(col("repr").isNotNull)
        .select(col("col_name").as("k"), col("repr").as("v")))
      .withColumnRenamed("k", "col_name")

  /** Deterministic A/B arm of the stream's user (the
    * [[graft.pipeline.EventOps.abTestMetrics]] assignment — salted
    * 60-bit MD5, stable under arrival order by construction). */
  private def abArm: org.apache.spark.sql.Column =
    pmod(graft.functions.HashFns.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))

  /** LIVE A/B COUNTER TIER — the streaming half of
    * [[graft.pipeline.EventOps.abTestMetrics]]: per arm, event count,
    * purchase count and micro revenue as ONE update-mode aggregation.
    * Every stat is additive, so the state is exactly 2 rows at any
    * stream length. The batch readout's per-USER tier (n_users,
    * n_buyers, and the ratios built on them) is deliberately NOT chained
    * here — exact distinct users would hold per-user state (the
    * sketch-vs-exact-set argument of [[hllRegisterStream]]); the live
    * distinct tier is [[abUserRegisterStream]]'s HLL registers, and the
    * ratios compose wherever the two land. Pinned per-trigger ≡ a batch
    * aggregate over the same prefix in EventStreamSpec. */
  def abTestStream(events: Dataset[StreamEvent]): DataFrame =
    abCounterStats(events.toDF())

  /** The aggregation shared by [[abTestStream]] and the spec's batch
    * comparator (mode-independent). */
  private[graft] def abCounterStats(df: DataFrame): DataFrame =
    df.select(abArm.as("arm"),
        (col("event_type") === "purchase").cast("long").as("p"),
        when(col("event_type") === "purchase", col("v"))
          .otherwise(lit(0L)).as("rv"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("p")).as("n_purchases"),
        sum(col("rv")).as("revenue_micro"))

  /** LIVE A/B DISTINCT TIER: per-arm users and buyers as HLL registers
    * via the generic [[graft.pipeline.RelOps.hllRegistersBy]] — keys
    * `users:<arm>` (every event) and `buyers:<arm>` (purchases only) in
    * ONE update-mode aggregation, state bounded at 4 × 64 rows at any
    * stream length. Identical registers to a batch build on the same
    * data (max is order-free), so estimates agree exactly. */
  def abUserRegisterStream(events: Dataset[StreamEvent]): DataFrame =
    graft.pipeline.RelOps.hllRegistersBy(abUserLong(events.toDF()))

  /** The (k, v) long form shared by [[abUserRegisterStream]] and the
    * spec's batch comparator. */
  private[graft] def abUserLong(df: DataFrame): DataFrame =
    df.select(abArm.as("arm"), col("event_type"),
        col("user_id").cast("string").as("v"))
      .select(explode(array(
        struct(concat(lit("users:"), col("arm")).as("k"), col("v"),
          lit(true).as("keep")),
        struct(concat(lit("buyers:"), col("arm")).as("k"), col("v"),
          (col("event_type") === "purchase").as("keep")))).as("c"))
      .where(col("c.keep"))
      .select(col("c.k").as("k"), col("c.v").as("v"))

  /** LIVE EWMA LEVEL — the stateful streaming twin of
    * [[graft.pipeline.EventOps.ewmaSmooth]]: per event type, ONE
    * [[EwmaState]] (four longs at any stream length); an hour folds
    * into the level only when a LATER-hour event of the type arrives,
    * so a micro-batch boundary inside an hour can never half-fold the
    * recurrence; silent hours zero-fill exactly as the batch grid does;
    * each closed hour emits one final (event_type, hour_sec, cnt,
    * ewma_micro) row — append-clean, every row identical to the batch
    * operator's for that hour. `h0` is the series epoch (the batch
    * grid's global min hour): production passes its deployment epoch,
    * the spec the fixture's. Per-key arrival must respect event time
    * across batches (the [[scd2Stream]] engine contract; within a
    * batch the group's hours replay sorted) — ENFORCED: a late hour
    * throws rather than silently corrupting the folded level. The open hour is emitted
    * by the batch readout, never the stream — the standard
    * monitoring-series contract (a live hour is not final). */
  def ewmaStream(events: Dataset[StreamEvent], h0: Long): DataFrame = {
    import events.sparkSession.implicits._
    val hourUs = graft.pipeline.EventOps.HourUs
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (t: String, it: Iterator[StreamEvent],
            state: GroupState[EwmaState]) => {
          var st = state.getOption
            .getOrElse(EwmaState(h0 - 1L, -1L, -1L, 0L))
          val out = Seq.newBuilder[(String, Long, Long, Long)]
          def step(sm: Long, c: Long): Long =
            if (sm < 0L) c * 1000000L else (3L * sm + c * 1000000L) / 4L
          it.toSeq.map(e => (e.tns / 1000L) / hourUs).sorted.foreach { he =>
            if (st.pendHour < 0L) st = st.copy(pendHour = he, pendCnt = 1L)
            else if (he == st.pendHour)
              st = st.copy(pendCnt = st.pendCnt + 1L)
            else { // he > pendHour: the open hour (and any gap) closes
              // contract enforcement (per-key event-time order across
              // micro-batches): a LATE hour would silently re-open an
              // already-folded hour and corrupt the level — fail the
              // task loudly instead, like the in-plan size asserts.
              if (he < st.pendHour) throw new IllegalStateException(
                s"ewmaStream: late event for key '$t' — hour $he " +
                  s"arrived after open hour ${st.pendHour}; per-key " +
                  "arrival must respect event time across batches")
              var sm = st.sm
              var h = st.foldedUpTo + 1L
              while (h <= st.pendHour) {
                val c = if (h == st.pendHour) st.pendCnt else 0L
                sm = step(sm, c)
                out += ((t, h * 3600L, c, sm))
                h += 1L
              }
              st = EwmaState(st.pendHour, sm, he, 1L)
            }
          }
          state.update(st)
          out.result().iterator
        })
      .toDF("event_type", "hour_sec", "cnt", "ewma_micro")
  }

  /** LIVE VALUE-MOMENT TIER — the streaming half of
    * [[graft.pipeline.EventOps.valueOutliers]]: per event type, the
    * exact integer moments (n, Σv, Σv² in DECIMAL(38)) as ONE
    * update-mode aggregation. All three are additive, so state is
    * exactly |types| rows at any stream length; the 3σ flag pass joins
    * these moments back over stored events wherever the readout runs
    * (sink side / the batch query) — chaining it in-stream would need a
    * second stateful pass over history, which is the
    * sketch-vs-exact-set trade again. Pinned per-trigger ≡ a batch
    * aggregate over the same prefix in EventStreamSpec. */
  def valueMomentsStream(events: Dataset[StreamEvent]): DataFrame =
    valueMoments(events.toDF())

  /** The aggregation shared by [[valueMomentsStream]] and the spec's
    * batch comparator (mode-independent). */
  private[graft] def valueMoments(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("svv"))

  /** Streaming SCD TYPE-2 history (the CDC twin of
    * [[graft.pipeline.EventOps.eventHistoryScd2]]): per user, keep the
    * ONE open validity row in state; each new event emits the previous
    * row's CLOSURE (valid_to = the new event's µs time, is_current 0)
    * and the new row as current (valid_to −1, is_current 1). The stream
    * is a changelog: every event is emitted current exactly once and
    * closed at most once, so compacting per (user_id, event_id) —
    * prefer the closed row — reproduces the batch SCD2 table exactly
    * (pinned across micro-batch boundaries in EventStreamSpec).
    *
    * Within a batch the group's rows replay in µs-truncated
    * (tus, event_id) order — the batch plan's exact window order;
    * across batches per-key arrival must respect event time (the
    * engine contract shared with [[asofAttributionStream]]). State is
    * ONE [[Scd2Open]] (two longs + a type tag) per user, evicted by
    * the same event-time TTL measured from the open row's start; an
    * evicted user's current row simply stays current in the sink — the
    * bounded-state trade, and why the TTL default is generous. The
    * [[funnelStream]] per-batch buffering note and the
    * [[asofAttributionStream]] best-effort eviction-timing note apply
    * here too. */
  def scd2Stream(events: Dataset[StreamEvent],
      ttlMs: Long = 30L * 86400L * 1000L): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    withTs(events)
      .withWatermark("ts", EventWatermark)
      .as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (uid: Long, it: Iterator[StreamEvent],
            state: GroupState[Scd2Open]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = Seq.newBuilder[Scd2Row]
            var open = state.getOption
            it.toSeq.sortBy(e => (e.tns / 1000L, e.event_id)).foreach { e =>
              val tus = e.tns / 1000L
              open.foreach { o =>
                out += Scd2Row(uid, o.event_id, o.event_type,
                  o.valid_from_tus, tus, 0L)
              }
              open = Some(Scd2Open(e.event_id, e.event_type, tus))
              out += Scd2Row(uid, e.event_id, e.event_type, tus, -1L, 1L)
            }
            open.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp(math.max(
                o.valid_from_tus / 1000L + ttlMs,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
        })
  }

  /** Streaming as-of attribution (the stateful twin of
    * [[graft.pipeline.EventOps.asofAttribution]]): per user, remember
    * the latest click; every purchase emits its attribution row
    * immediately. Within a micro-batch the group's rows are replayed in
    * µs-truncated (tus, kind, event_id) event order — the batch plan's
    * exact window order, so equal-µs ties resolve identically (clicks
    * before purchases, max event_id click wins); across batches the
    * state carries the last click forward (per-key arrival must respect
    * event time across batches, the same contract as the reference's
    * running reduces).
    *
    * State is ONE [[ClickState]] (two longs) per user, evicted by an
    * EVENT-TIME TTL: the state's timeout is set to click time + `ttlMs`
    * and fires once the watermark passes it, so a user idle past the TTL
    * drops their click and a later purchase attributes to -1 — the
    * bounded-state tradeoff every long-running attribution stream makes.
    * Event-time (not processing-time) timeout on purpose: eviction is
    * keyed to the DATA's clock — deterministic and replayable — and the
    * micro-batch engine only re-fires a batch when the watermark moves,
    * where a processing-time timeout makes `shouldRunAnotherBatch`
    * return true unconditionally and the query busy-spins empty
    * micro-batches forever. [[EventWatermark]] bounds how out-of-order
    * events may arrive (late rows beyond it are dropped by the engine).
    *
    * Eviction timing is WATERMARK-GRANULAR and best-effort, not an
    * exact TTL cutoff (the contract shared by every event-time-TTL
    * operator here): a timer fires only in a batch AFTER the watermark
    * passes it, and only for keys WITHOUT data in that batch — since
    * data is processed before timeout handling, a purchase arriving in
    * the same micro-batch that first reveals the expiry still
    * attributes to the expired click. Consumers needing exact TTL
    * semantics must filter on the emitted gap instead. The same
    * per-batch buffering note as [[funnelStream]] applies to the
    * in-batch `toSeq` sort. */
  def asofAttributionStream(events: Dataset[StreamEvent],
      ttlMs: Long = 7L * 86400L * 1000L): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    withTs(events)
      .withWatermark("ts", EventWatermark)
      .as[StreamEvent]
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        (uid: Long, it: Iterator[StreamEvent],
            state: GroupState[ClickState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ordered = it.toSeq.sortBy(e =>
              (e.tns / 1000L, if (e.event_type == "click") 0 else 1,
                e.event_id))
            var last = state.getOption
            val out = Seq.newBuilder[Attribution]
            ordered.foreach { e =>
              if (e.event_type == "click")
                last = Some(ClickState(e.event_id, e.tns / 1000L))
              else out += Attribution(e.event_id, uid,
                last.map(_.click_id).getOrElse(-1L),
                last.map(c => (e.tns / 1000L - c.click_tus) / 1000000L)
                  .getOrElse(-1L))
            }
            last.foreach { c =>
              state.update(c)
              // click event-time + TTL, clamped above the current
              // watermark (setting a timeout at-or-before the watermark
              // is an error — such state is due NOW, next watermark move)
              state.setTimeoutTimestamp(math.max(
                c.click_tus / 1000L + ttlMs,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
        })
  }
}
