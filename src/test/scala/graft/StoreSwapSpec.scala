package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{CorpusSink, PositionsIndex, PqIndex, SqIndex,
  StoreDirs}
import graft.streaming.IngestPipeline

/** Durability pins for the store-swap and ingest-lease discipline:
  * [[StoreDirs.replaceParquet]] must recover a swap a crash left
  * half-done, corpus-partition rewrites must stage under names Spark
  * partition discovery SKIPS (a crash leftover can never resurrect
  * forgotten documents as a bogus partition), the vector-store
  * bootstrap must replay idempotently, and a second concurrent ingest
  * writer on one outDir must fail loudly before any store mutates. */
class StoreSwapSpec extends SparkSpec {

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  test("replaceParquet entry recovery restores a swap that died between renames") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-swap").toString + "/rel"
    StoreDirs.replaceParquet(Seq(1L, 2L).toDF("v"), dir)
    // simulate a crash between rename(dir, dir.old) and
    // rename(staging, dir): the complete old relation is parked at
    // .old, nothing is live
    val f = fs(dir)
    assert(f.rename(new Path(dir), new Path(dir + ".old")))
    assert(!f.exists(new Path(dir)))
    // the NEXT replace recovers first (its input may scan `dir`), then
    // swaps in the new contents
    val recovered = spark.read // lineage built AFTER recovery runs
    StoreDirs.replaceParquet(Seq(7L, 8L, 9L).toDF("v"), dir)
    assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq ==
      Seq(7L, 8L, 9L))
    assert(!f.exists(new Path(dir + ".old")) &&
      !f.exists(new Path(dir + ".staging")))
    val _ = recovered
  }

  test("corpus partition staging is invisible to readers; recovery sweep restores a parked partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-swap-corpus").toString
    val docs = Seq(
      (1L, "de", "ein kleines deutsches dokument mit text"),
      (2L, "en", "a small english document with some text"))
      .toDF("doc_id", "lang", "clean_text")
    CorpusSink.appendCurated(docs, s"$dir/corpus")
    // plant crash leftovers shaped like the hidden staging names — and
    // like the OLD unhidden sibling names would have been
    val junk = Seq((9L, "junk text that must never resurrect"))
      .toDF("doc_id", "clean_text")
    junk.write.parquet(s"$dir/corpus/.staging_lang=fr")
    junk.write.parquet(s"$dir/corpus/.old_lang=de") // live de exists → obsolete copy
    // Spark partition discovery must skip both: no bogus partitions,
    // no resurrected rows
    val read = spark.read.parquet(s"$dir/corpus")
    assert(read.count() == 2L)
    assert(read.select("lang").distinct().as[String].collect().toSet ==
      Set("de", "en"))
    // park the en partition at its _old_ name (crash between renames)
    val f = fs(dir)
    assert(f.rename(new Path(s"$dir/corpus/lang=en"),
      new Path(s"$dir/corpus/.old_lang=en")))
    CorpusSink.recoverPartitionSwaps(spark, s"$dir/corpus")
    val after = spark.read.parquet(s"$dir/corpus")
    assert(after.count() == 2L) // en restored, de kept its live copy
    assert(!f.exists(new Path(s"$dir/corpus/.old_lang=de")) &&
      !f.exists(new Path(s"$dir/corpus/.old_lang=en")) &&
      !f.exists(new Path(s"$dir/corpus/.staging_lang=fr")))
    // and deleteDocs end-to-end still prunes to the right partition
    CorpusSink.deleteDocs(spark, Seq(1L).toDF("doc_id"), s"$dir/corpus")
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("vector-store buildFrom replays idempotently (the bootstrap-intent contract)") {
    val dir = Files.createTempDirectory("graft-swap-boot").toString
    val v = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(256)
      .select(col("vec_id"),
        graft.functions.MicroVecExpr.micro(spark, col("embedding"))
          .as("em"))
      .withColumn("nrm",
        graft.functions.VecDotExpr.dot(spark, col("em"), col("em")))
    def rel(p: String) =
      spark.read.parquet(s"$dir/$p").collect().map(_.toSeq)
    PqIndex.buildFrom(spark, v, s"$dir/pq")
    SqIndex.buildFrom(spark, v, s"$dir/sq")
    val (codes, cells, recon) =
      (rel("pq/codes").toSet, rel("pq/cells").toSet,
        rel("sq/recon").toSet)
    assert(rel("pq/codes").size == codes.size) // no dup rows to hide in a set
    // a crash after buildFrom but before the sink marker replays the
    // SAME build (the recorded intent) — which must reproduce the
    // store exactly, never double-code
    PqIndex.buildFrom(spark, v, s"$dir/pq")
    SqIndex.buildFrom(spark, v, s"$dir/sq")
    assert(rel("pq/codes").length == codes.size &&
      rel("pq/codes").toSet == codes)
    assert(rel("pq/cells").length == cells.size &&
      rel("pq/cells").toSet == cells)
    assert(rel("sq/recon").length == recon.size &&
      rel("sq/recon").toSet == recon)
  }

  test("exactly-once applies: kill-and-replay between any append and its marker replays to the sequential result") {
    import graft.pipeline.DataOps
    import graft.sources.{LangProfileStore, PostingsIndex, Store}
    val SF = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 40)
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    val labeled = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .where(col("doc_id") < 40)
    // multiset contents: a replay that duplicated rows must not hide
    // behind set equality
    def rels(dir: String, names: Seq[String]) = names.map { r =>
      r -> spark.read.parquet(s"$dir/$r").collect().map(_.toString)
        .sorted.toSeq
    }.toMap
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val tag = "7"

    // ---- every registry store: control (sequential) vs completed-apply
    // replay, over the same published batches (embeddings linked by
    // vec_id = doc_id)
    val published = labeled.withColumnRenamed("text", "clean_text")
      .join(spark.read.parquet(s"$SF/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    for (store <- Store.all) {
      def half(r: Int) = store.input.absorb(
        published.where(col("doc_id") % 2 === r)).get
      val control = tmp(s"graft-eo-${store.name}-c")
      store.buildFrom(spark, half(0), control)
      store.appendBatch(spark, half(1), control)
      val replay = tmp(s"graft-eo-${store.name}-r")
      store.buildFrom(spark, half(0), replay)
      store.appendBatch(spark, half(1), replay, tag)
      // the crash window: apply completed, marker never touched —
      // the ingest job re-runs the whole apply with the same tag
      store.appendBatch(spark, half(1), replay, tag)
      assert(rels(replay, store.relations) ==
        rels(control, store.relations), store.name)
    }

    // ---- partial crash INSIDE a multi-relation apply: postings +
    // doclen landed (witnessed), vocab/stats did not
    val control = tmp("graft-eo-part-c")
    PostingsIndex.buildFrom(spark, evens, control)
    PostingsIndex.appendBatch(spark, odds, control)
    val part = tmp("graft-eo-part-r")
    PostingsIndex.buildFrom(spark, evens, part)
    val dt = DataOps.docTokenCountsOf(spark, odds)
    StoreDirs.appendOnce(dt, s"$part/postings", tag)
    StoreDirs.appendOnce(dt.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("dl")), s"$part/doclen", tag)
    PostingsIndex.appendBatch(spark, odds, part, tag) // the replay
    assert(rels(part, Seq("postings", "doclen", "vocab", "stats")) ==
      rels(control, Seq("postings", "doclen", "vocab", "stats")))

    // ---- derived-relation replay: counts merged+witnessed, crash
    // before profiles — the replay must derive profiles from the
    // POST-merge counts, not double-merge the batch
    val lc = tmp("graft-eo-lang-c")
    LangProfileStore.buildFrom(spark,
      labeled.where(col("doc_id") % 2 === 0), lc)
    LangProfileStore.appendBatch(spark,
      labeled.where(col("doc_id") % 2 === 1), lc)
    val lr = tmp("graft-eo-lang-r")
    LangProfileStore.buildFrom(spark,
      labeled.where(col("doc_id") % 2 === 0), lr)
    StoreDirs.mergeOnce(spark, s"$lr/counts", tag)(
      spark.read.parquet(s"$lr/counts")
        .unionByName(DataOps.ctLangCounts(DataOps.ctGramCounts(spark,
          labeled.where(col("doc_id") % 2 === 1))))
        .groupBy(col("lang"), col("h")).agg(sum(col("c")).as("c")))
    LangProfileStore.appendBatch(spark,
      labeled.where(col("doc_id") % 2 === 1), lr, tag) // the replay
    assert(rels(lr, Seq("counts", "profiles")) ==
      rels(lc, Seq("counts", "profiles")))

    // ---- plain + partitioned ledger appends: a replayed appendOnce
    // (and a partial attempt replayed) never duplicates rows
    import spark.implicits._
    val flat = tmp("graft-eo-flat") + "/dups"
    StoreDirs.appendOnce(Seq(1L, 2L).toDF("doc_id"), flat, "0")
    StoreDirs.appendOnce(Seq(3L, 4L).toDF("doc_id"), flat, "1")
    StoreDirs.appendOnce(Seq(3L, 4L).toDF("doc_id"), flat, "1")
    assert(spark.read.parquet(flat).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    val corp = tmp("graft-eo-corp") + "/corpus"
    val b0 = Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
    CorpusSink.appendCurated(b0, corp, tag = "0")
    val b1 = Seq((3L, "en"), (4L, "fr")).toDF("doc_id", "lang")
    CorpusSink.appendCurated(b1, corp, tag = "1")
    CorpusSink.appendCurated(b1, corp, tag = "1")
    assert(spark.read.parquet(corp).select("doc_id", "lang")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr")))
  }

  test("a registry build that throws leaves no build-once entry: the next call rebuilds") {
    import spark.implicits._
    val sf = Files.createTempDirectory("graft-once-sf").toString
    // documents.parquet missing: the store build inside the guard throws
    intercept[Exception](PositionsIndex.phraseIndexed(spark, sf))
    Seq((1L, "the quick brown fox jumps"), (2L, "a quick brown fox naps"),
      (3L, "one quick brown fox"), (4L, "no fox here at all"))
      .toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    // the retry builds the store instead of probing a missing directory
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(PositionsIndex.phraseIndexed(spark, sf)) ==
      rows(graft.pipeline.DataOps.phraseSearch(spark, sf)))
  }

  test("markers carry content; create-if-absent refuses an existing marker") {
    val dir = Files.createTempDirectory("graft-swap-marker").toString
    StoreDirs.writeMarker(spark, s"$dir/m", "build", overwrite = false)
    assert(StoreDirs.readMarker(spark, s"$dir/m") == "build")
    intercept[java.io.IOException] {
      StoreDirs.writeMarker(spark, s"$dir/m", "append",
        overwrite = false)
    }
    assert(StoreDirs.readMarker(spark, s"$dir/m") == "build")
  }

  test("a second concurrent ingest writer fails loudly before any store mutates") {
    val dir = Files.createTempDirectory("graft-swap-lease").toString
    IngestPipeline.acquireLease(spark, dir, "writer-a")
    // re-entrant for the same writer (a restarted pipeline resumes)
    IngestPipeline.acquireLease(spark, dir, "writer-a")
    val e = intercept[IllegalStateException] {
      IngestPipeline.acquireLease(spark, dir, "writer-b")
    }
    assert(e.getMessage.contains("leased by writer 'writer-a'"))
    // nothing under outDir but the lock — the refusal came first
    assert(fs(dir).listStatus(new Path(dir)).map(_.getPath.getName)
      .toSet == Set("_lock"))
  }

  test("start() sweeps committed-batch staging leftovers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-swap-sweep").toString
    Seq(1L).toDF("doc_id").write.parquet(s"$dir/staging/3/curated")
    Seq(2L).toDF("doc_id").write.parquet(s"$dir/staging/4/curated")
    StoreDirs.touchMarker(spark, s"$dir/committed/3")
    IngestPipeline.sweepCommittedStaging(spark, dir, s"$dir/idx")
    val left = fs(dir).listStatus(new Path(s"$dir/staging"))
      .map(_.getPath.getName).toSet
    assert(left == Set("4")) // committed batch swept, in-flight kept
  }

  test("OnceMap: a body that re-enters its own key throws instead of blocking") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val once = new StoreDirs.OnceMap[Int]
    // Off the test thread under a timeout: a body that waits on itself
    // fails the test instead of hanging the suite.
    val reentered = Await.result(
      Future(scala.util.Try(once("k")(once("k")(1) + 1))), 60.seconds)
    assert(reentered.failed.get.isInstanceOf[IllegalStateException])
    // the failure dropped the entry: the next caller runs the body
    assert(once("k")(7) == 7)
    // a body may still call apply for ANOTHER key
    assert(once("a")(once("b")(2) + 1) == 3)
  }
}
