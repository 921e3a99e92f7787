package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.model.Model.{CapAdmit, CapDoc, MoodRec, TimedMessage, ToxState, ToxWindow}
import graft.ops.ChatOps.orderedConcat
import graft.pipeline.ParityQueries
import graft.pipeline.ParityQueries.BaseEpoch

/**
 * Structured Streaming forms of the reference DAG's stateful operators
 * (SURVEY.md §2.4) — the streaming twins of [[graft.ops.ChatOps]] /
 * [[graft.pipeline.ParityQueries]], sharing the same column expressions so
 * streaming-prefix ≡ batch-twin equivalence is testable (SURVEY.md §5.4).
 *
 * Structural note (Spark's chained-stateful-operator rule):
 * `flatMapGroupsWithState` cannot CONSUME a streaming aggregation, so the
 * reference's E2 chain (1 s window → running reduce → count window,
 * SentimentAnalysis.scala:285, :304-311) runs as a single
 * [[toxicWindows]] stateful operator over per-record moods — it folds the
 * running reduce AND the count window in one per-key state, which is
 * exactly Flink's per-record semantics. E1's 1 s window concat
 * ([[w1Concat]]) is a separate streaming aggregation query.
 *
 * Scale: every operator here shards state by key through the normal
 * hash exchange; state per key is O(1) ([[ToxState]] is four longs — no
 * buffered rows), so executor state stores stay bounded at any key count.
 */
object StreamingOps {

  /** Allowed event-time disorder of the chat streams: the W1/W2 window
    * queries here and [[SentimentPipeline]]'s watermarked branches. */
  val ChatWatermark = "5 seconds"

  /** Event-time column for the derived stream: `tsec` seconds after the
    * fixture epoch. */
  def withEventTime(msgs: Dataset[TimedMessage]): DataFrame =
    msgs.toDF().withColumn("ts",
      timestamp_seconds(lit(BaseEpoch) + col("tsec")))

  /** W1 with its event-time window column kept — the chaining form for
    * window-of-windows aggregation. */
  def w1ConcatWindowed(msgs: Dataset[TimedMessage]): DataFrame =
    withEventTime(msgs)
      .withWatermark("ts", ChatWatermark)
      .groupBy(window(col("ts"), "1 second"), col("channel"),
        col("user").as("username"))
      .agg(orderedConcat(col("seq"), col("text")).as("text"))

  /** W1 streaming form (SentimentAnalysis.scala:44-48): keyed 1 s tumbling
    * window + arrival-order concat, watermarked on event time. Output
    * matches [[ParityQueries.w1]]: (wsec, channel, username, text). */
  def w1Concat(msgs: Dataset[TimedMessage]): DataFrame =
    w1ConcatWindowed(msgs)
      .select(
        (unix_timestamp(col("window.start")) - BaseEpoch).as("wsec"),
        col("channel"), col("username"), col("text"))

  /** W2 streaming form (SentimentAnalysis.scala:51-52): the 100 s
    * re-window of W1 results — CHAINED stateful aggregation (Spark 3.4+
    * multiple-stateful support, append mode): the second window groups on
    * `window_time` of the first, watermark propagating through. Output
    * matches [[ParityQueries.w2]]: (w2sec, channel, username, text). */
  def w2Concat(msgs: Dataset[TimedMessage]): DataFrame =
    w1ConcatWindowed(msgs)
      .withColumn("wsec",
        unix_timestamp(col("window.start")) - BaseEpoch)
      .groupBy(window(window_time(col("window")), "100 seconds"),
        col("channel"), col("username"))
      .agg(orderedConcat(col("wsec"), col("text")).as("text"))
      .select(
        (unix_timestamp(col("window.start")) - BaseEpoch).as("w2sec"),
        col("channel"), col("username"), col("text"))

  /** E1 streaming form: W1 + the sentiment enrichment (stateless columns,
    * identical to the batch twin). */
  def sentimentStream(msgs: Dataset[TimedMessage]): DataFrame =
    ParityQueries.withSentiment(w1Concat(msgs))
      .select("wsec", "channel", "username", "score_micro", "mag_micro",
        "mood_micro")

  /** W4 streaming form (running keyed reduce, SentimentAnalysis.scala:285):
    * per-key running mood total in update output mode — one updated row
    * per key per trigger, state never expires (as in Flink). */
  def runningMood(sentimented: DataFrame): DataFrame =
    sentimented
      .groupBy(col("username").as("key"))
      .agg(sum(col("mood_micro")).as("run_micro"))

  /** W8 streaming form (countWindow + toxicity filter,
    * SentimentAnalysis.scala:304-311) fused with the upstream running
    * reduce: per key, each record advances the running total, the running
    * total feeds an N-element count window, and every COMPLETE window
    * whose sum is ≤ thresholdMicro fires (note `<=`, reference :311).
    * Partial windows never fire; state is O(1) per key.
    *
    * Within a micro-batch, records are folded in `seq` order (the
    * explicit arrival order); across batches, state carries over — the
    * streaming-prefix ≡ batch-twin property tested in StreamingSpec.
    *
    * `ttlMs` (SURVEY.md §4's optional state TTL): by default state
    * never expires — Flink-faithful (reference :285 holds running state
    * forever), but on an unbounded stream with unbounded key churn the
    * store grows forever too. With a TTL, a key idle for that duration
    * of EVENT time is evicted and RESTARTS FROM ZERO (running total,
    * open partial window and window numbering reset) when it next
    * appears — the standard state-store trade, made explicit and opt-in.
    *
    * Eviction is by EVENT-TIME timeout (the key's last event time +
    * TTL, fired by the watermark — the [[EventStreamOps]] pattern):
    * deterministic, replayable, and idle-stream-safe, where a
    * processing-time timeout makes `shouldRunAnotherBatch` return true
    * unconditionally and an idle query busy-spins empty micro-batches.
    * Timing is watermark-granular and best-effort (the shared
    * [[EventStreamOps]] contract): a timer fires only in a batch AFTER
    * the watermark passes it, and only for keys WITHOUT data in that
    * batch — a key whose next records arrive in the very batch that
    * first reveals its expiry continues its old state. The watermark
    * delay bounds event-time disorder; records later than it are dropped
    * by the engine (TTL mode only — without a TTL no watermark is applied
    * and nothing is ever dropped or evicted). The delay is the sibling
    * event-time-TTL operators' [[EventStreamOps.EventWatermark]]: a
    * 0-second delay would silently drop CROSS-key disorder the per-key
    * ordering contract explicitly allows. */
  def toxicWindows(moods: Dataset[MoodRec], n: Int,
      thresholdMicro: Long,
      ttlMs: Option[Long] = None): Dataset[ToxWindow] = {
    import moods.sparkSession.implicits._
    val src =
      if (ttlMs.isDefined)
        moods.toDF()
          .withColumn("ts", timestamp_seconds(lit(BaseEpoch) + col("tsec")))
          .withWatermark("ts", EventStreamOps.EventWatermark)
          .as[MoodRec]
      else moods
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, it: Iterator[MoodRec], state: GroupState[ToxState]) =>
          if (state.hasTimedOut) {
            // TTL expiry: no new records for this key this batch — drop
            // the idle state; nothing fires.
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(ToxState(0L, 0L, 0L, 0L))
            val fired = Seq.newBuilder[ToxWindow]
            var maxTsec = Long.MinValue
            it.toSeq.sortBy(_.seq).foreach { r =>
              if (r.tsec > maxTsec) maxTsec = r.tsec
              val run = s.runMicro + r.mood_micro
              var (cnt, win, grp) = (s.cnt + 1, s.winMicro + run, s.grp)
              if (cnt == n) {
                if (win <= thresholdMicro) fired += ToxWindow(key, grp, win)
                cnt = 0L; win = 0L; grp += 1
              }
              s = ToxState(run, cnt, win, grp)
            }
            state.update(s)
            // last event time + TTL, clamped above the current watermark
            // (a timeout at-or-before the watermark is an engine error)
            ttlMs.foreach { ttl =>
              state.setTimeoutTimestamp(math.max(
                (BaseEpoch + maxTsec) * 1000L + ttl,
                state.getCurrentWatermarkMs() + 1L))
            }
            fired.result().iterator
          }
      }
  }

  /** Streaming exact dedup — the ingest-time form of
    * [[graft.pipeline.DataOps.dedupExact]]: drops records whose text hash
    * was already seen, with state BOUNDED by a 10-second watermark
    * (`dropDuplicatesWithinWatermark`) so the dedup store cannot grow
    * without limit on an unbounded stream. At 100 TB ingest this is the
    * first stage of the training-data pipeline; the batch operator
    * handles the historical corpus. */
  def dedupExactStream(msgs: Dataset[TimedMessage]): DataFrame =
    withEventTime(msgs)
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("h")
      .drop("h", "ts")

  /** Ingest-time decontamination — the streaming form of
    * [[graft.pipeline.DataOps.decontaminate]]: each incoming document is
    * flagged when any of its contiguous n-grams appears in the held-out
    * benchmark set. The benchmark gram hashes are collected once (tiny by
    * design — eval sets are MBs) and shipped as a literal, so the check is
    * a STATELESS per-record `arrays_overlap` — no join state, no
    * watermark, append-mode clean, O(1) memory at any stream length.
    * Input needs a `text` column; adds `contaminated: boolean`. */
  def decontaminateStream(docStream: DataFrame, sfDir: String): DataFrame = {
    val bench = typedLit(
      graft.pipeline.DataOps.benchmarkGramHashes(
        docStream.sparkSession, sfDir).toSeq)
    docStream.withColumn("contaminated",
      arrays_overlap(
        graft.pipeline.DataOps.contamGramHashes(col("text")), bench))
  }

  /** The sink of every store-serving stream below: each non-empty
    * micro-batch is answered as a BATCH query against a persistent
    * store, `answer(batch, batchId)`, and the answer appended to
    * `outDir` as parquet. An empty micro-batch appends nothing.
    *
    * `foreachBatch` is the right bridge here (not a stateful streaming
    * operator): the probe is a JOIN against a parquet STORE, which
    * Structured Streaming cannot express as an incremental stateful op
    * without re-keying the whole store into stream state; per-batch
    * batch-joins against the store are exactly how production ingest
    * dedup runs. Stream state is zero; all heavy relations live in the
    * store. */
  private def appendEachBatch(stream: DataFrame, outDir: String)(
      answer: (DataFrame, Long) => DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          answer(batch.toDF(), batchId).write.mode("append").parquet(outDir)
        ()
      }
      .start()

  /** A micro-batch of raw (vec_id, embedding) query vectors in the
    * micro-unit query shape (q_id, qem, qn) the vector stores probe
    * with — the batch loader's own projection. */
  private def vecQueries(batch: DataFrame): DataFrame =
    graft.pipeline.DataOps.microVectors(batch).toDF("q_id", "qem", "qn")

  /** Ingest-time incremental near-dup detection — the K4 persistent
    * store ([[graft.sources.MinhashIndex]]) serving the INGEST path:
    * each micro-batch of snapshot documents probes the stored corpus
    * bands/shingles via [[graft.sources.MinhashIndex.dedupAgainst]],
    * appending
    * (doc_id, dup_of, jac_micro) rows to `outDir`. Because a document's
    * signature and band buckets depend only on its OWN text, the result
    * is independent of micro-batch boundaries — stream ≡ batch pinned
    * across two batches in StreamingSpec. */
  def dedupAgainstStream(docStream: DataFrame, indexDir: String,
      outDir: String): StreamingQuery =
    appendEachBatch(docStream, outDir) { (batch, _) =>
      graft.sources.MinhashIndex
        .dedupAgainst(batch.sparkSession, batch, indexDir)
    }

  /** Streaming DSIR scoring over the K8 persistent importance store
    * ([[graft.sources.DsirStore]]) — the data-selection ingest path:
    * each micro-batch of (doc_id, text) documents scores against the
    * frozen target/raw bucket statistics via
    * [[graft.sources.DsirStore.scoreAgainst]], appending
    * (doc_id, n_bigrams, weight_bits, keep) to `outDir`. A document's
    * weight depends only on its own hashed bigrams and the store, so
    * results are independent of micro-batch boundaries — stream ≡
    * batch pinned in StreamingSpec. Stream state is zero; the KB-sized
    * model lives in the store and broadcasts per batch. */
  def dsirScoreStream(docStream: DataFrame, storeDir: String,
      outDir: String): StreamingQuery =
    appendEachBatch(docStream, outDir) { (batch, _) =>
      graft.sources.DsirStore
        .scoreAgainst(batch.sparkSession, batch, storeDir)
    }

  /** Streaming lexical-search serving over the K9 persistent postings
    * store ([[graft.sources.PostingsIndex]]) — the search-tier query
    * path: each micro-batch of (q_id, token) query rows probes the
    * stored postings/length/df relations via
    * [[graft.sources.PostingsIndex.bm25ServeAgainst]], appending each
    * query's exact-integer BM25 top-10 (q_id, doc_id, score_micro, rnk,
    * n_terms_hit) to `outDir`. A query's answer depends only on its own
    * terms and the frozen store, so results are independent of
    * micro-batch boundaries — stream ≡ batch pinned in StreamingSpec.
    * Stream state is zero; every heavy relation lives in the store. */
  def bm25ServeStream(queryStream: DataFrame, indexDir: String,
      outDir: String): StreamingQuery =
    appendEachBatch(queryStream, outDir) { (batch, _) =>
      graft.sources.PostingsIndex
        .bm25ServeAgainst(batch.sparkSession, batch, indexDir)
    }

  /** [[bm25ServeStream]] over the BUCKETED postings layout — the
    * serving twin of the round-14 `bm25Bucketed` batch probe: each
    * micro-batch's distinct terms are collected (bounded —
    * [[graft.sources.PostingsIndex.MaxServeTerms]] asserts loudly)
    * and pushed into the bucketed scan as literals, so every
    * micro-batch prunes to ITS queries' buckets instead of opening
    * the corpus-sized postings relation. At 100 TB this is the
    * difference between a serving tick reading a few posting lists
    * and re-scanning the index per tick. Results ≡ the directory
    * probe for the same queries (stream ≡ batch pinned across two
    * micro-batches in StreamingSpec). */
  def bm25ServeBucketedStream(queryStream: DataFrame, table: String,
      indexDir: String, outDir: String): StreamingQuery =
    appendEachBatch(queryStream, outDir) { (batch, _) =>
      graft.sources.PostingsIndex.bm25ServeAgainstBucketed(
        batch.sparkSession, batch, table, indexDir)
    }

  /** STREAMING RIGHT-TO-BE-FORGOTTEN — the deletion-request QUEUE a
    * pipeline actually operates (GDPR/CCPA requests arrive
    * continuously, not as one batch): each micro-batch of (doc_id)
    * deletion requests drives ONE composed [[graft.sources.Forget]]
    * call across the corpus and every `(store, dir)` named, and
    * appends the honored ids to `outDir` as the compliance audit log
    * (request → batch_id → honored, the trail an auditor asks for).
    *
    * Micro-batch boundaries don't matter: every store's `removeBatch`
    * is the exact inverse of its `appendBatch` and the model stores'
    * subtraction is associative, so forgetting ids in two batches ≡
    * forgetting their union in one (pinned in StreamingSpec against
    * the single-call composed forget, relation by relation). The
    * per-batch contract guard still applies per batch: requests must
    * be duplicate-free within a batch and name still-published docs —
    * a re-request of an already-forgotten id fails the batch loudly
    * (the alternative, silently skipping, would corrupt the audit
    * trail's "honored" meaning).
    *
    * 100 TB shape: deletion batches are KB-sized and broadcast into
    * every store's anti-join; per batch the corpus rewrite touches
    * only the victims' lang partitions. */
  def forgetStream(requestStream: DataFrame, corpusDir: String,
      stores: Seq[(graft.sources.Store, String)],
      outDir: String): StreamingQuery =
    appendEachBatch(requestStream, outDir) { (batch, batchId) =>
      graft.sources.Forget.forget(batch.sparkSession, batch, corpusDir,
        stores)
      batch.select(col("doc_id")).withColumn("batch_id", lit(batchId))
    }

  /** Streaming ANN serving over the K5 persistent PQ store
    * ([[graft.sources.PqIndex]]) — the vector-store query path: each
    * micro-batch of raw float query vectors converts to the micro-unit
    * query shape ([[vecQueries]] — the batch loader's own native
    * `micro_vec` + `vec_dot` expressions) and probes the store via
    * [[graft.sources.PqIndex.queryAgainst]], appending
    * (q_id, n_id, rnk, cos_micro) to `outDir`. Per-query answers depend
    * only on the store and the query's own vector, so results are
    * independent of micro-batch boundaries — stream ≡ batch pinned in
    * StreamingSpec. The query side of each batch is naturally bounded
    * by the micro-batch; the heavy relations all live in the store. */
  def annAgainstStream(vecStream: DataFrame, indexDir: String,
      sfDir: String, outDir: String): StreamingQuery =
    appendEachBatch(vecStream, outDir) { (batch, _) =>
      graft.sources.PqIndex.queryAgainst(batch.sparkSession,
        vecQueries(batch), indexDir, sfDir)
    }

  /** Streaming phrase serving over the K10 persistent positional
    * index ([[graft.sources.PositionsIndex]]) — the exact-phrase query
    * path: each micro-batch of (g, i, t) phrase-part rows probes the
    * stored positional relation via
    * [[graft.sources.PositionsIndex.phraseAgainst]], appending each
    * phrase's (doc_id, phrase, n_hits, first_pos) hits to `outDir`.
    * A phrase's answer depends only on its own parts and the frozen
    * store, so results are independent of micro-batch boundaries —
    * stream ≡ batch pinned in StreamingSpec. Stream state is zero. */
  def phraseServeStream(partsStream: DataFrame, indexDir: String,
      outDir: String): StreamingQuery =
    appendEachBatch(partsStream, outDir) { (batch, _) =>
      graft.sources.PositionsIndex
        .phraseAgainst(batch.sparkSession, batch, indexDir)
    }

  /** [[phraseServeStream]] over the BUCKETED positions layout — the
    * K10 sibling of [[bm25ServeBucketedStream]]: each micro-batch's
    * distinct phrase tokens push into the bucketed scan as literals
    * (bounded — [[graft.sources.PositionsIndex.MaxServeTokens]]), so
    * a serving tick reads the queried tokens' buckets, never the
    * corpus-sized positions relation. Stream ≡ directory serve pinned
    * across two micro-batches in StreamingSpec. */
  def phraseServeBucketedStream(partsStream: DataFrame, table: String,
      outDir: String): StreamingQuery =
    appendEachBatch(partsStream, outDir) { (batch, _) =>
      graft.sources.PositionsIndex
        .phraseServeAgainstBucketed(batch.sparkSession, batch, table)
    }

  /** [[dedupAgainstStream]] over the BUCKETED band layout — the K4
    * sibling: each micro-batch of landed documents probes the
    * bucketed-by-`bh` band table
    * ([[graft.sources.MinhashIndex.dedupAgainstBucketed]]), so the
    * corpus side arrives hash-partitioned off the bucket scan and
    * only the SNAPSHOT shuffles per tick (co-location, not pruning —
    * band hashes are data-dependent). Stream ≡ directory probe pinned
    * across two micro-batches in StreamingSpec. */
  def dedupAgainstBucketedStream(docStream: DataFrame, table: String,
      indexDir: String, outDir: String): StreamingQuery =
    appendEachBatch(docStream, outDir) { (batch, _) =>
      graft.sources.MinhashIndex.dedupAgainstBucketed(batch.sparkSession,
        batch, table, indexDir)
    }

  /** Streaming proximity serving over the SAME K10 positional index —
    * the windowed-co-occurrence query path beside [[phraseServeStream]]
    * (one stored positions relation, both query families live): each
    * micro-batch of (t, role) term-pair rows probes the store via
    * [[graft.sources.PositionsIndex.proximityAgainst]], appending each
    * pair's (doc_id, t_a, t_b, min_dist, n_pairs_w) hits to `outDir`.
    * CONTRACT: one term PAIR per micro-batch — the (t, role) shape
    * keys terms by role only, so a batch IS one query (two pairs in
    * one batch would cross their roles); the request queue admits
    * pairs one trigger at a time. A pair's answer depends only on its
    * own terms and the frozen store — stream ≡ batch pinned in
    * StreamingSpec; zero stream state. */
  def proximityServeStream(termsStream: DataFrame, indexDir: String,
      outDir: String): StreamingQuery =
    appendEachBatch(termsStream, outDir) { (batch, _) =>
      graft.sources.PositionsIndex
        .proximityAgainst(batch.sparkSession, batch, indexDir)
    }

  /** Streaming MULTI-PAIR proximity serving — the batched sibling of
    * [[proximityServeStream]] (round 13): each micro-batch carries a
    * whole (q_id, t, role) query BATCH, answered in ONE pass over the
    * stored positional relation via
    * [[graft.sources.PositionsIndex.proximityServeAgainst]]
    * ([[graft.pipeline.DataOps.proximityServeStage]] verbatim), so the
    * one-pair-per-trigger contract of the unkeyed form disappears —
    * any number of pairs land per trigger, each q_id independent.
    * Zero stream state; stream ≡ batch pinned in StreamingSpec. */
  def proximityServeBatchedStream(termsStream: DataFrame,
      indexDir: String, outDir: String): StreamingQuery =
    appendEachBatch(termsStream, outDir) { (batch, _) =>
      graft.sources.PositionsIndex
        .proximityServeAgainst(batch.sparkSession, batch, indexDir)
    }

  /** Streaming COMPOSED IVFPQ serving over the K5 store — the
    * [[annAgainstStream]] sibling on the cell-pruned path (round 13:
    * every store serving path now has a streaming twin): each
    * micro-batch of raw float query vectors converts with the batch
    * loader's own native expressions and probes ALL FOUR stored
    * relations via [[graft.sources.PqIndex.ivfPqAgainst]], appending
    * (q_id, n_id, rnk, cos_micro) to `outDir`. Per-query answers
    * depend only on the store and the query's own vector — stream ≡
    * batch pinned in StreamingSpec; zero stream state. */
  def ivfPqAgainstStream(vecStream: DataFrame, indexDir: String,
      sfDir: String, outDir: String): StreamingQuery =
    appendEachBatch(vecStream, outDir) { (batch, _) =>
      graft.sources.PqIndex.ivfPqAgainst(batch.sparkSession,
        vecQueries(batch), indexDir, sfDir)
    }

  /** [[ivfPqAgainstStream]] over the BUCKETED inverted-list layout —
    * the K5 sibling of [[bm25ServeBucketedStream]], completing the
    * bucketed serving twins (token/t/bh/cell): each micro-batch of
    * raw float query vectors converts with the batch loader's native
    * expressions, derives its UNION of probe cells (bounded —
    * [[graft.sources.PqIndex.MaxServeVecQueries]]), and probes ONLY
    * those cells' buckets. Stream ≡ directory composed probe pinned
    * across two micro-batches in StreamingSpec. */
  def ivfPqServeBucketedStream(vecStream: DataFrame, table: String,
      indexDir: String, sfDir: String, outDir: String): StreamingQuery =
    appendEachBatch(vecStream, outDir) { (batch, _) =>
      graft.sources.PqIndex.ivfPqServeAgainstBucketed(batch.sparkSession,
        vecQueries(batch), table, indexDir, sfDir)
    }

  /** Streaming ANN serving over the K7 persistent SQ store
    * ([[graft.sources.SqIndex]]) — the [[annAgainstStream]] twin at the
    * scalar-quantized tier (the one store that had no streaming
    * serving path): each micro-batch of raw float query vectors
    * converts to the micro-unit query shape and probes the stored
    * reconstruction relation via
    * [[graft.sources.SqIndex.queryAgainst]], appending
    * (q_id, n_id, rnk, cos_micro) to `outDir`. Per-query answers
    * depend only on the store and the query's own vector, so results
    * are independent of micro-batch boundaries — stream ≡ batch pinned
    * in StreamingSpec across two micro-batches. Stream state is zero;
    * the corpus-sized relation lives in the store. */
  def sqAgainstStream(vecStream: DataFrame, indexDir: String,
      sfDir: String, outDir: String): StreamingQuery =
    appendEachBatch(vecStream, outDir) { (batch, _) =>
      graft.sources.SqIndex.queryAgainst(batch.sparkSession,
        vecQueries(batch), indexDir, sfDir)
    }

  /** Streaming classification over the persistent Cavnar-Trenkle
    * profile store ([[graft.sources.LangProfileStore]]) — the
    * train-offline/score-online production shape: each micro-batch of
    * documents classifies as a BATCH against the stored (broadcast,
    * KB-sized) profile relation, appending
    * (doc_id, lang, lang_pred, dist) to `outDir`. Per-doc predictions
    * depend only on the store and the doc's own trigrams, so results
    * are independent of micro-batch boundaries — stream ≡ the
    * self-trained batch query pinned in StreamingSpec. */
  def classifyAgainstStream(docStream: DataFrame, storeDir: String,
      outDir: String): StreamingQuery =
    appendEachBatch(docStream, outDir) { (batch, _) =>
      graft.sources.LangProfileStore
        .classifyAgainst(batch.sparkSession, batch, storeDir)
    }

  /** Ingest-time language ID — the streaming twin of
    * [[graft.pipeline.DataOps.langId]]: the stateless projection form
    * ([[graft.pipeline.DataOps.langIdCols]] — broadcast-literal profile
    * arrays, one `greatest`-over-structs argmax), so the operator is
    * append-mode clean with NO shuffle, no state, no watermark — a pure
    * per-record enrichment at any stream rate. Pinned stream ≡ batch in
    * StreamingSpec. Input needs (doc_id, text); adds (lang_pred, hits). */
  def langIdStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.langIdCols(docStream)

  /** Ingest-time quality scoring — the streaming twin of
    * [[graft.pipeline.DataOps.textQuality]]: the exact batch column
    * expressions ([[graft.pipeline.DataOps.textQualityCols]]), stateless
    * single-pass projection. */
  def textQualityStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.textQualityCols(docStream)

  /** Ingest-time stratified sampling — the streaming twin of
    * [[graft.pipeline.DataOps.stratifiedSample]]: the same salted-hash
    * bucket filter ([[graft.pipeline.DataOps.stratifiedKeep]]), stateless
    * and deterministic, so the stream keeps exactly the rows the batch
    * pass would keep regardless of micro-batch boundaries. Keeps all
    * input columns plus the bucket. */
  def stratifiedSampleStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.stratifiedKeep(docStream)

  /** Ingest-time PII audit — the streaming twin of
    * [[graft.pipeline.DataOps.piiScan]]: the exact batch pattern
    * counts over the same fixture injection, stateless projection. */
  def piiScanStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.piiScanCols(
      graft.pipeline.DataOps.withPiiText(docStream))

  /** Ingest-time PII masking — the streaming twin of
    * [[graft.pipeline.DataOps.piiRedact]] (stateless projection). Like
    * its batch twin it first appends the fixture's stand-in PII
    * ([[graft.pipeline.DataOps.withPiiText]]), which its oracle replays;
    * [[IngestPipeline]] masks real landed text with
    * [[graft.pipeline.DataOps.piiRedacted]] instead. */
  def piiRedactStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.piiRedactCols(
      graft.pipeline.DataOps.withPiiText(docStream))

  /** Ingest-time token counting — the streaming twin of
    * [[graft.pipeline.DataOps.tokenCount]] (stateless projection of the
    * exact batch expressions). */
  def tokenCountStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.tokenCountCols(docStream)

  /** Ingest-time document fingerprinting — the streaming twin of
    * [[graft.pipeline.DataOps.fingerprint]] (stateless projection of the
    * exact batch expressions). */
  def fingerprintStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.fingerprintCols(docStream)

  /** Ingest-time Gopher-rule filtering — the streaming twin of
    * [[graft.pipeline.DataOps.gopherFilter]] (stateless projection of
    * the exact batch rule expressions: keep/drop verdict + named
    * violated rules per document). */
  def gopherFilterStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.gopherFilterCols(docStream)

  /** LIVE per-source quantile sketch — the streaming twin of
    * [[graft.pipeline.DataOps.kmvQuantiles]], same pattern as the live
    * HLL registers ([[graft.streaming.EventStreamOps.hllRegisterStream]]):
    * the KMV k-smallest-hash sample is MONOTONE under accumulation (a
    * new document either displaces a larger hash or leaves the sample
    * unchanged) and the doc count only grows, so the exact batch
    * expressions run as an update-mode streaming aggregation whose
    * state IS the sketch — O(k) + one long per source at any stream
    * length, no TTL needed (state is bounded by the domain count, not
    * the stream). Each update row carries the full rank-picked
    * p50/p90/p99 estimates for its source — the live ingest-distribution
    * dashboard feed. Pinned per-trigger ≡ batch-over-prefix (including
    * that trigger-2 samples fold trigger-1 state) in StreamingSpec. */
  def kmvQuantilesStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.kmvQuantilesFrame(
      docStream.sparkSession, docStream)

  /** LIVE TOKENIZER-FERTILITY READOUT — the update-mode twin of
    * [[graft.pipeline.DataOps.tokenFertility]]: the per-source sums are
    * additive under accumulation and the ppm ratios derive from them,
    * so the exact batch aggregation runs as an update-mode streaming
    * aggregation holding four longs per source — the live
    * tokenizer-health dashboard feed. Pinned per-trigger ≡
    * batch-over-prefix in StreamingSpec. */
  def tokenFertilityStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.tokenFertilityCols(docStream)

  /** LIVE COUNT-MIN SKETCH — the frequency member of the live-sketch
    * tier beside [[kmvQuantilesStream]] (quantiles) and the event-side
    * HLL registers: CMS counters are ADDITIVE under accumulation, so
    * the exact batch aggregation
    * ([[graft.pipeline.DataOps.cmsSketchCols]]) runs as an update-mode
    * streaming aggregation whose state IS the D×W sketch — O(D·W)
    * state at any stream length, each update row a fresh (r, bucket)
    * counter any point-frequency reader can probe. Pinned per-trigger ≡
    * batch-over-prefix in StreamingSpec. */
  def cmsSketchStream(docStream: DataFrame): DataFrame =
    graft.pipeline.DataOps.cmsSketchCols(docStream)

  /** Ingest-time per-source document cap — the streaming counterpart of
    * [[graft.pipeline.DataOps.sourceCap]]: admit at most `k` documents
    * per source, holding ONE long (the admitted count) per source in
    * state. Semantics differ from the batch operator BY NECESSITY and
    * on purpose: the batch cap keeps the k salted-hash-minimal docs
    * (order-independent — it sees the whole corpus), while an unbounded
    * stream cannot revisit admissions, so the stream admits the FIRST k
    * per source, in (micro-batch, doc_id) order — deterministic given
    * the batch boundaries. This is the C4/RefinedWeb-style online
    * domain-balancing gate; state is bounded by the domain count, so no
    * TTL is needed at any stream length. */
  def sourceCapStream(docStream: DataFrame,
      k: Int = graft.pipeline.DataOps.SourceCapK): Dataset[CapAdmit] = {
    import docStream.sparkSession.implicits._
    docStream.select(col("doc_id"), col("source")).as[CapDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[CapDoc], state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[CapAdmit]
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            if (admitted < k) {
              admitted += 1
              out += CapAdmit(src, d.doc_id, admitted)
            }
          }
          state.update(admitted)
          out.result().iterator
      }
  }

  /** COMPOSED ingest-time curation — the streaming analog of the
    * stateless tiers of [[graft.pipeline.DataOps.retentionDecision]] in
    * ONE pass: language ID, quality score, benchmark decontamination and
    * the stratified-sampling decision, each as a 0/1 keep bit, plus
    * their conjunction `keep` (language identified ∧ quality ≥ floor ∧
    * uncontaminated — benchmark documents are dropped UNCONDITIONALLY,
    * the batch verdict's "benchmark docs always dropped" rule, not just
    * via gram self-overlap). Entirely stateless (the decontamination gram set rides
    * as a broadcast literal), so the operator is append-clean at any
    * stream rate. The two batch-only gates — repetition signals and
    * near-dup cluster survivorship — need corpus-wide aggregation and
    * deliberately stay out of the streaming verdict; run the batch
    * [[graft.pipeline.DataOps.retentionDecision]] over the landed
    * corpus for the full five-gate decision. */
  def curationStream(docStream: DataFrame, sfDir: String): DataFrame = {
    import graft.pipeline.DataOps
    val enriched = decontaminateStream(
      DataOps.stratBits(
        DataOps.textQualityMetrics(DataOps.langIdCols(docStream))), sfDir)
    enriched
      .withColumn("lang_keep", (col("lang_pred") =!= "und").cast("long"))
      .withColumn("quality_keep",
        (col("quality_micro") >= DataOps.QualityFloorMicro).cast("long"))
      // benchmark documents (the doc_id ≡ 0 mod 97 stand-in, the same
      // rule as DataOps.decontaminate) are ALWAYS dropped — matching the
      // batch verdict unconditionally, not only when they happen to
      // share a gram with themselves (a sub-ContamN-token benchmark doc
      // has no grams and would otherwise slip through)
      .withColumn("contam_keep",
        when(col("doc_id") % 97 === 0, lit(0L))
          .otherwise(lit(1L) - col("contaminated").cast("long")))
      .withColumn("keep",
        col("lang_keep") * col("quality_keep") * col("contam_keep"))
  }

  /** Per-record mood projection (R7, SentimentAnalysis.scala:249-255) of a
    * message stream keyed by user — the stateless front of the live E2
    * chain feeding [[toxicWindows]]. */
  def perRecordMoods(msgs: Dataset[TimedMessage]): Dataset[MoodRec] = {
    import msgs.sparkSession.implicits._
    ParityQueries.withSentiment(msgs.toDF())
      .select(col("user").as("key"), col("seq"), col("tsec"),
        col("mood_micro")).as[MoodRec]
  }
}
