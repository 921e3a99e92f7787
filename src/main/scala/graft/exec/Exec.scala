package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.StoreDirs

/**
 * The one place that decides how a registry query executes: eagerly,
 * or plan-only (`-Dgraft.lazyPlans=true`, set by [[graft.Explain]] and
 * the codegen lint). Every materialization point a query builder
 * reaches is here. In plan-only mode each of them is a no-op, so
 * constructing a query runs no Spark job and allocates no cache, and
 * the plan a caller gets is the full auditable one rather than a
 * checkpoint stub.
 */
object Exec {

  /** Plan-only mode. A `def`: the property is read on every call,
    * because a test JVM sets and clears it around a plan pass. */
  def planOnly: Boolean = java.lang.Boolean.getBoolean("graft.lazyPlans")

  /** `eager` normally; in plan-only mode `standIn`, a plan over fresh
    * relations that matches what `eager` reads off a store it first
    * builds (the store registry entries). */
  def planOnlyOr(standIn: => DataFrame)(eager: => DataFrame): DataFrame =
    if (planOnly) standIn else eager

  /** `df.count()`; in plan-only mode 1, a stand-in for callers that only
    * derive knob literals from the count (the scaled ANN and dedup
    * tiers), so construction runs no count job. */
  def count(df: DataFrame): Long = if (planOnly) 1L else df.count()

  /** `df.persist()`, or `df` itself in plan-only mode (where nothing
    * executes, so a cache entry would only leak into later plans). */
  def persist(df: DataFrame): DataFrame =
    if (planOnly) df else df.persist()

  /** Cache hygiene for the multi-branch queries: materialize the
    * (small) result via eager `localCheckpoint` and release the internal
    * persisted intermediates immediately, so a long-lived session using
    * these builders accumulates NO cached plans — callers get a
    * lineage-free frame and never need `clearCache()`. */
  def finish(out: DataFrame, caches: DataFrame*): DataFrame =
    if (planOnly) out
    else {
      val r = out.localCheckpoint(true)
      caches.foreach(_.unpersist())
      r
    }

  /** Pin a TINY deterministic frame (refined centroids, a bounded tier):
    * materialize it once per query build so its subplan doesn't
    * re-execute under every branch that reads it. */
  def pin(df: DataFrame): DataFrame =
    if (planOnly) df else df.localCheckpoint(true)

  /** Force a persist-marked frame's cache NOW (one count job) so
    * parallel tier builders read a warm cache instead of racing to
    * compute the same partitions. */
  def warm(df: DataFrame): DataFrame = {
    if (!planOnly) df.count()
    df
  }

  /** Overlap INDEPENDENT eager tier builds (optimization guide §2.6:
    * Spark's scheduler happily runs several jobs at once inside one
    * application — actions are only sequential because driver code
    * calls them sequentially). Each builder runs on its own driver
    * thread ([[graft.DriverThreads.runAll]], session and local
    * properties carried over; the pool is sized to the tier count,
    * measured fastest in OPTIMIZATION_r17.md), so one tier's jobs
    * back-fill the executor slots another tier's straggler tail leaves
    * idle instead of the audits paying the strict SUM of their tiers'
    * wall-clocks. Results are exactly the frames a sequential loop
    * would produce: builders are independent by contract, and the
    * shared build-once/trained-model guards they may race on are
    * blocking ([[StoreDirs.OnceMap]]). In plan-only mode builders run
    * inline.
    *
    * FAILURE: the tiers' jobs carry one job tag (nested builds inherit
    * it). From the first failing tier until every sibling has ENDED,
    * the tag's running jobs are cancelled every 100 ms, so a sibling
    * between jobs cannot keep submitting work after the call returns.
    * Then every RDD persisted since the call began is unpersisted (a
    * cancelled builder never reaches [[finish]]) and every model
    * [[cachedModel]] trained since then is evicted (it may sit on
    * those blocks), and the first failure is rethrown. The cleanup is
    * call-scoped: it assumes no unrelated driver thread persists
    * frames during the call. */
  def parBuild(builders: Seq[() => DataFrame]): Seq[DataFrame] =
    if (planOnly || builders.lengthCompare(2) < 0) builders.map(_())
    else {
      val session = SparkSession.active
      val sc = session.sparkContext
      val tag = s"graft-parBuild-${parBuildSeq.incrementAndGet()}"
      val persisted = sc.getPersistentRDDs.keySet
      val models = trainedModels.keys
      try graft.DriverThreads.runAll(session,
        builders.map(b => () => {
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          b()
        }),
        whileFailing = () => sc.cancelJobsWithTag(tag))
      catch {
        case t: Throwable =>
          sc.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!persisted(id)) rdd.unpersist(blocking = true)
          }
          trainedModels.retainKeys(models)
          throw t
      }
    }

  private val parBuildSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[parBuild]] with each tier eagerly pinned on its own thread — for
    * BOUNDED tier relations (per-query top-k heads, guarded-sample pair
    * reports) whose evaluation would otherwise run strictly serially
    * inside the one final audit job; the pin also keeps a tier's
    * subplan from re-executing once per counting branch (n_cand
    * aggregate + truth semi-join) where exchange reuse happens not to
    * cover it. Never applied to corpus-sized relations. */
  def parPinned(builders: Seq[() => DataFrame]): Seq[DataFrame] =
    parBuild(builders.map(b => () => pin(b())))

  /** Session-scoped trained-model cache. Training is DETERMINISTIC
    * (hash-stratified seeds, exact integer means), so memoizing the
    * trained frame per (input, params) key changes no result — only
    * removes the re-training: the first caller trains and
    * localCheckpoint-pins the model; every later caller broadcasts the
    * pinned rows. Keys are sfDir paths + hyperparameters; models
    * trained on ARBITRARY frames (store lifecycle splits, scaled bench
    * tiers) keep training fresh. Plan-only mode bypasses the cache, so
    * the plan shows the full training subplan. */
  private val trainedModels = new StoreDirs.OnceMap[DataFrame]

  /** Entries are keyed by the OWNING SparkContext's (applicationId,
    * startTime) so a stopped-and-restarted session in the same JVM
    * (embedding, multi-session test runs) neither resolves a cached
    * frame to dead localCheckpoint RDD blocks nor pins them forever:
    * any entry from another context epoch is evicted on the next cache
    * touch (the map holds KB-scale models, so the sweep is a no-op in
    * the steady single-context case). Training runs OUTSIDE the map's
    * bin lock ([[StoreDirs.OnceMap]]), so overlapped tiers training
    * DIFFERENT models never serialize on a shared hash bin; same-key
    * callers still block on the winner. */
  def cachedModel(key: String)(train: => DataFrame): DataFrame =
    if (planOnly) train
    else {
      val sc = SparkSession.active.sparkContext
      val epoch = s"${sc.applicationId}:${sc.startTime}:"
      trainedModels.retainKeys(_.startsWith(epoch))
      trainedModels(epoch + key)(train.localCheckpoint(true))
    }
}
