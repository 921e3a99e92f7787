package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Scratch-directory discipline shared by the persistent-store registry
 * round-trips ([[MinhashIndex.dedupIndexed]], [[PqIndex.annPqIndexed]],
 * [[SqIndex.annSqIndexed]], [[DsirStore.dsirStored]], ...): each
 * build-then-probe audit writes its store under a tmpdir path derived
 * from
 *   - the FULL md5 digest of the corpus path (not a 32-bit hashCode —
 *     distinct paths can never collide short of an md5 collision), and
 *   - a per-JVM nonce, so two concurrent sessions auditing the same
 *     corpus never race one build/overwrite against the other's probe;
 * and every issued directory is deleted recursively at JVM exit, so
 * repeated audit runs leave nothing behind in tmpdir.
 *
 * Within one JVM the mapping is stable (the nonce is a val), so a
 * build in one registry call and a probe in a later one — the Verify
 * driver's pattern — still meet on the same directory.
 */
private[graft] object StoreDirs {

  /** ATOMIC RELATION REPLACEMENT — the write-then-rename form of
    * `df.write.mode("overwrite").parquet(dir)` every store mutation
    * uses: the new contents land fully under `dir.staging` FIRST (the
    * old directory is still intact and readable while the job runs, so
    * a frame that reads `dir` can be written back over `dir` without
    * an in-memory checkpoint), then one filesystem rename swaps it in.
    * A JVM death at ANY point leaves a complete relation on disk —
    * either the old one (crash before the swap) or the new one (after)
    * — where in-place overwrite has a delete-then-write window that
    * loses the store outright (its localCheckpoint blocks live only in
    * executor storage). Runs through the Hadoop FileSystem API, so the
    * same code path holds on HDFS/object stores, not just local disk
    * (rename is atomic on HDFS; on S3-like stores a committer-backed
    * table format is the production answer — this is the portable
    * primitive). The transient `dir.old` hop keeps a complete copy
    * through the swap itself; a leftover `.staging`/`.old` from a
    * crash is ignored by every reader (stores read exact
    * subdirectories) and cleaned by the next replace.
    *
    * FAILURE DISCIPLINE: Hadoop `FileSystem.rename` signals failure by
    * RETURNING FALSE, not throwing — every rename here is checked and a
    * false return aborts loudly, so a failed swap can never silently
    * delete the `.old` safety copy and report success. There IS a
    * window between the two renames where `dir` is absent; a crash
    * inside it leaves the complete previous relation at `.old`, and the
    * NEXT call's entry recovery renames it back before doing anything
    * else — so "a complete relation is always recoverable on disk"
    * holds at every point, and "readable at `dir`" holds everywhere
    * except inside that bounded two-rename window.
    *
    * `stagingPath`/`oldPath` override the default sibling names for
    * callers whose `dir` lives under a Spark-discovered partition root
    * (a sibling `lang=v.old` would be parsed as a REAL partition —
    * and so would a `_`-prefixed name containing '=', so
    * [[CorpusSink.deleteDocs]] stages under hidden `.`-prefixed leaves
    * instead, which every Spark reader skips). */
  def replaceParquet(df: DataFrame, dir: String,
      stagingPath: String = null, oldPath: String = null,
      witness: String = null): Unit = {
    val spark = df.sparkSession
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      Option(stagingPath).getOrElse(dir + ".staging"))
    val old = new org.apache.hadoop.fs.Path(
      Option(oldPath).getOrElse(dir + ".old"))
    // ENTRY RECOVERY: a prior replace that died between its two renames
    // left the complete previous relation at `old` and nothing at
    // `dir` — restore it first, so readers (including df's own lineage,
    // which may scan `dir`) always see a complete store.
    if (!fs.exists(path) && fs.exists(old)) renameOrDie(fs, old, path)
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    // The absorbed-batch witness rides INSIDE the staged directory, so
    // the rename below lands data and witness in ONE atomic step — the
    // exactly-once primitive behind [[mergeOnce]]: a crash can never
    // leave "merged but unwitnessed" (replay double-merges) or
    // "witnessed but unmerged" (batch lost). `_`-prefixed files are
    // skipped by every parquet reader.
    if (witness != null)
      fs.create(new org.apache.hadoop.fs.Path(tmp, witnessName(witness)),
        true).close()
    fs.delete(old, true)
    if (fs.exists(path)) renameOrDie(fs, path, old)
    // On failure here the data is still whole at `old` (entry recovery
    // restores it next call); on success the new relation is live.
    renameOrDie(fs, tmp, path)
    // Drop the safety copy only after verifying the swap landed.
    if (fs.exists(path)) { fs.delete(old, true); () }
    ()
  }

  private def renameOrDie(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to))
      sys.error(s"filesystem rename $from -> $to returned false; " +
        "aborting the store swap (the previous relation is intact)")

  private def witnessName(tag: String) = s"_absorbed_$tag"

  /** Has `dir` already absorbed the batch named `tag`? True iff the
    * relation's current contents carry the `_absorbed_<tag>` witness —
    * which, by construction ([[replaceParquet]]'s in-staging witness,
    * [[appendOnce]]'s post-move witness), means the tagged mutation
    * completed. `tag = null` (non-ingest callers) is never absorbed. */
  def absorbed(spark: SparkSession, dir: String, tag: String): Boolean =
    tag != null && pathExists(spark, s"$dir/${witnessName(tag)}")

  /** EXACTLY-ONCE MERGE — the read-merge-rewrite form of store
    * maintenance made idempotent per relation: when `dir` already
    * carries the `_absorbed_<tag>` witness the merge is skipped (the
    * plan is not even built — `merged` is by-name, and would
    * double-count the batch if evaluated against the post-merge
    * relation); otherwise the merged contents swap in with the witness
    * riding the SAME atomic rename. A kill at any point replays to the
    * sequential result: before the rename — old relation intact, replay
    * re-merges from it; after — witness present, replay skips. With
    * `tag = null` this is a plain [[replaceParquet]]. */
  def mergeOnce(spark: SparkSession, dir: String, tag: String)(
      merged: => DataFrame): Unit =
    if (!absorbed(spark, dir, tag))
      replaceParquet(merged, dir, witness = tag)

  /** EXACTLY-ONCE APPEND — the idempotent twin of
    * `df.write.mode("append").parquet(dir)` for batch-tagged store
    * maintenance: the batch's files land under deterministic
    * `b<tag>-i` names (write to a sibling staging dir, then rename
    * file-by-file), a replay first CLEARS any partial earlier attempt
    * of the same tag, and the `_absorbed_<tag>` witness — created only
    * after every move — short-circuits a replay of a completed append.
    * Partition subdirectories (`lang=<v>`) mirror recursively, so the
    * lang-partitioned corpus publish shares the discipline. Only the
    * newest batch can ever replay with its sink marker missing
    * (Structured Streaming commits batches in order), so older
    * witnesses are dropped as each new one lands — a relation carries
    * at most one witness file between compactions. With `tag = null`
    * this is a plain append (the non-ingest callers' path). */
  def appendOnce(df: DataFrame, dir: String, tag: String = null,
      maxRecordsPerFile: Long = 0L, partitionCols: Seq[String] = Nil): Unit = {
    val writer0 = df.write.mode(
      if (tag == null) "append" else "overwrite")
    val writer1 = if (maxRecordsPerFile > 0)
      writer0.option("maxRecordsPerFile", maxRecordsPerFile) else writer0
    val writer = if (partitionCols.nonEmpty)
      writer1.partitionBy(partitionCols: _*) else writer1
    if (tag == null) { writer.parquet(dir); return }
    val spark = df.sparkSession
    if (absorbed(spark, dir, tag)) return
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(s"$dir.append_$tag")
    fs.delete(tmp, true)
    writer.parquet(tmp.toString)
    moveTagged(fs, tmp, target, tag)
    fs.listStatus(target)
      .filter(_.getPath.getName.startsWith("_absorbed_"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.create(new org.apache.hadoop.fs.Path(target, witnessName(tag)),
      true).close()
    fs.delete(tmp, true)
    ()
  }

  /** Mirror `src`'s part files into `dst` under `b<tag>-i` names,
    * recursing through partition (`k=v`) subdirectories; clears any
    * same-tag leftovers in each directory first, so a partial crashed
    * attempt replays clean. */
  private def moveTagged(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      tag: String): Unit = {
    fs.mkdirs(dst)
    fs.listStatus(dst).filter(_.getPath.getName.startsWith(s"b$tag-"))
      .foreach(st => fs.delete(st.getPath, false))
    var i = 0
    fs.listStatus(src).sortBy(_.getPath.getName).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.contains("="))
        moveTagged(fs, st.getPath,
          new org.apache.hadoop.fs.Path(dst, n), tag)
      else if (n.endsWith(".parquet")) {
        renameOrDie(fs, st.getPath,
          new org.apache.hadoop.fs.Path(dst, s"b$tag-$i.snappy.parquet"))
        i += 1
      }
    }
  }

  /** Existence check through the Hadoop FileSystem API (not
    * java.io.File — the ingest job's markers/ledger must hold on
    * HDFS/object-store paths, not just local disk). */
  def pathExists(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** Create an empty marker file (parents included) through the Hadoop
    * FileSystem API. */
  def touchMarker(spark: SparkSession, file: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(path.getParent)
    fs.create(path, true).close()
    ()
  }

  /** Create a marker file CARRYING CONTENT (parents included), with
    * create-if-absent semantics when `overwrite = false` — the
    * Hadoop-FS primitive behind the ingest writer lease and the
    * vector-store bootstrap intent records. Throws if the file exists
    * and `overwrite` is false. */
  def writeMarker(spark: SparkSession, file: String, content: String,
      overwrite: Boolean = true): Unit = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(path.getParent)
    val out = fs.create(path, overwrite)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    ()
  }

  /** Delete a file/directory (non-recursive for files) through the
    * Hadoop FileSystem API; absent paths are a no-op. */
  def deletePath(spark: SparkSession, file: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(file)
    path.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(path, true)
    ()
  }

  /** Read a marker file's content as UTF-8 text. */
  def readMarker(spark: SparkSession, file: String): String = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Blocking per-key memoization whose body runs OUTSIDE the map's
    * bin lock (round-16 ADVICE): `computeIfAbsent` inserts only a
    * cheap [[java.util.concurrent.FutureTask]], so two DIFFERENT keys
    * that hash into the same bin (the overlapped recall-audit tiers
    * build `graft-pq-index`/`-incr`/`-del` concurrently) no longer
    * serialize behind a minutes-long store build, and a body may call
    * `apply` for ANOTHER key without deadlocking on its own bin.
    * Same-key callers block until the winner's body completes (the
    * build-once contract).
    *
    * FAILURE: a failed body's entry is removed before the error
    * propagates. Callers ALREADY BLOCKED on that entry share the
    * winner's failure (they receive its exception; they do not run
    * the body themselves); only callers arriving after the removal
    * retry the body.
    *
    * RE-ENTRY: a body that calls `apply` with its OWN key on the
    * thread running it would wait on its own task forever; it throws
    * `IllegalStateException` instead (a thread-local set holds the
    * keys the current thread is running), and that failure drops the
    * entry like any other. A body that hands its own key to ANOTHER
    * thread and waits for it still deadlocks. No store body re-enters:
    * every [[once]] body builds and mutates its own directory and
    * calls no other `once`. */
  private[graft] final class OnceMap[V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.FutureTask[V]]()
    private val running = ThreadLocal.withInitial[
      java.util.Set[String]](() => new java.util.HashSet[String]())
    def apply(key: String)(body: => V): V = {
      if (running.get.contains(key))
        throw new IllegalStateException(
          s"OnceMap: the body for '$key' re-entered apply with its own " +
          "key; it would wait on itself forever")
      val task = m.computeIfAbsent(key,
        _ => new java.util.concurrent.FutureTask[V](
          new java.util.concurrent.Callable[V] {
            def call(): V = {
              val mine = running.get
              mine.add(key)
              try body finally mine.remove(key)
            }
          }))
      task.run() // no-op if another thread already ran / is running it
      try task.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          m.remove(key, task)
          throw e.getCause
        case e: java.util.concurrent.CancellationException =>
          m.remove(key, task)
          throw e
      }
    }
    /** The keys present now (completed or running). */
    def keys: Set[String] = {
      import scala.jdk.CollectionConverters._
      m.keySet.asScala.toSet
    }
    /** Evict entries whose key fails the predicate (the trained-model
      * cache's context-epoch sweep). */
    def retainKeys(p: String => Boolean): Unit = {
      m.keySet.removeIf(k => !p(k)); ()
    }
  }

  private val built = new OnceMap[Unit]

  /** The build-once guard of every store registry entry (and of
    * [[Forget]]'s composed fixture): `body` — a store build plus its
    * lifecycle mutation, or a bucketed-table write — runs once per
    * (JVM, `key`); later callers probe what it wrote. Concurrent
    * same-key callers wait for it, and a build that throws leaves no
    * entry behind, so the next call retries instead of probing a
    * missing or half-written directory. Keys are store directories
    * or table names, unique per entry. */
  def once(key: String)(body: => Unit): Unit = built(key)(body)

  /** This JVM's random nonce — also the default ingest writer identity
    * ([[graft.streaming.IngestPipeline]]'s lease). */
  private[graft] val jvmNonce: String =
    java.lang.Long.toHexString(
      java.util.UUID.randomUUID().getLeastSignificantBits)

  private val issued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val cleaner: Thread = {
    val t = new Thread(() => {
      issued.forEach { d => deleteRec(new java.io.File(d)) }
    }, "graft-store-dir-cleaner")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  /** The scratch store directory for (`prefix`, `key`) — registered
    * for recursive deletion at JVM exit. */
  def tmpStoreDir(prefix: String, key: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    val dir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"$prefix-$digest-$jvmNonce"
    if (issued.add(dir)) { cleaner; () }
    dir
  }

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete()
    ()
  }
}
