package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{CorpusSink, DsirStore, Forget, LangProfileStore,
  MinhashIndex, PostingsIndex, PqIndex, SqIndex, Store}

/** The composed right-to-be-forgotten ([[Forget]]) must scrub EVERY
  * surface with one call, refuse malformed requests before any store
  * mutates, and leave unaffected corpus partitions physically
  * untouched. */
class ForgetSpec extends SparkSpec {

  private val SF = "/root/testdata/sf0.001"

  private def publishAll(dir: String) = {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    CorpusSink.appendCurated(docs, s"$dir/corpus")
    PostingsIndex.buildFrom(spark,
      docs.select(col("doc_id"), col("text")), s"$dir/postings")
    MinhashIndex.build(spark,
      docs.select(col("doc_id"), col("text")), s"$dir/minhash")
    docs
  }

  test("malformed requests fail atomically, before any surface mutates") {
    val dir = Files.createTempDirectory("graft-forget-guard").toString
    val docs = publishAll(dir)
    def snapshot() = spark.read.parquet(s"$dir/corpus").count()
    val before = snapshot()
    // duplicate ids
    val dup = intercept[IllegalArgumentException] {
      Forget.forget(spark,
        docs.limit(1).select(col("doc_id"))
          .unionAll(docs.limit(1).select(col("doc_id"))),
        s"$dir/corpus", Store.under(dir, Seq(PostingsIndex, MinhashIndex)))
    }
    assert(dup.getMessage.contains("duplicate"))
    // an id that was never published
    val missing = intercept[IllegalArgumentException] {
      Forget.forget(spark,
        spark.range(1).select((col("id") + 999999999L).as("doc_id")),
        s"$dir/corpus", Store.under(dir, Seq(PostingsIndex, MinhashIndex)))
    }
    assert(missing.getMessage.contains("not in the published"))
    assert(snapshot() == before)
  }

  test("a fully-forgotten language partition rewrites to empty, not survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-forget-empty").toString
    val docs = Seq(
      (1L, "de", "ein kleines deutsches dokument mit etwas text"),
      (2L, "de", "noch ein deutsches dokument mit anderem text"),
      (3L, "en", "a small english document with some text inside"))
      .toDF("doc_id", "lang", "text")
    CorpusSink.appendCurated(docs, s"$dir/corpus")
    PostingsIndex.buildFrom(spark,
      docs.select(col("doc_id"), col("text")), s"$dir/postings")
    MinhashIndex.build(spark,
      docs.select(col("doc_id"), col("text")), s"$dir/minhash")
    Forget.forget(spark, Seq(1L, 2L).toDF("doc_id"),
      s"$dir/corpus", Store.under(dir, Seq(PostingsIndex, MinhashIndex)))
    // the de partition still exists but reads back zero rows — the
    // per-partition rewrite handles the all-victims case the dynamic
    // overwrite mode would silently skip
    val after = spark.read.parquet(s"$dir/corpus")
    assert(after.count() == 1L &&
      after.select("doc_id").head().getLong(0) == 3L)
    assert(spark.read.parquet(s"$dir/corpus/lang=de").count() == 0L)
    // and the stores agree: only doc 3 remains indexed
    assert(spark.read.parquet(s"$dir/postings/doclen")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(spark.read.parquet(s"$dir/minhash/shingles")
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("one forget call scrubs corpus, search and dedup surfaces together") {
    val dir = Files.createTempDirectory("graft-forget-e2e").toString
    val docs = publishAll(dir)
    // remember which partitions exist and their file sets
    def files(sub: String) =
      new java.io.File(s"$dir/corpus/$sub").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val langs = docs.select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted
    // victims: every odd doc of ONE language only — other partitions
    // must keep their exact files (partition-pruned rewrite)
    val victimLang = langs.head
    val untouched = langs.tail.map(l => l -> files(s"lang=$l")).toMap
    val victims = docs
      .where(col("lang") === victimLang && col("doc_id") % 2 === 1)
      .select(col("doc_id"))
    val nVictims = victims.count()
    assert(nVictims > 0)
    Forget.forget(spark, victims, s"$dir/corpus",
      Store.under(dir, Seq(PostingsIndex, MinhashIndex)))
    // corpus: victims gone, everyone else intact, other partitions'
    // files bit-identical (names unchanged == no rewrite happened)
    val after = spark.read.parquet(s"$dir/corpus")
    assert(after.count() == docs.count() - nVictims)
    assert(after.join(victims, Seq("doc_id"), "left_semi").count() == 0)
    langs.tail.foreach(l => assert(files(s"lang=$l") == untouched(l), l))
    // search: the maintained store == a from-scratch survivors-only
    // build, relation by relation (the removeBatch inverse contract,
    // now driven through the composed call)
    val survivors = docs.join(victims, Seq("doc_id"), "left_anti")
    val fresh = Files.createTempDirectory("graft-forget-fresh").toString
    PostingsIndex.buildFrom(spark,
      survivors.select(col("doc_id"), col("text")), s"$fresh/postings")
    Seq("postings", "doclen", "vocab", "stats").foreach { rel =>
      assert(spark.read.parquet(s"$dir/postings/$rel")
        .collect().map(_.toSeq).toSet ==
        spark.read.parquet(s"$fresh/postings/$rel")
          .collect().map(_.toSeq).toSet, rel)
    }
    // dedup: no victim band survives — probing a victim back as a
    // snapshot cannot self-match at jac 1.0
    MinhashIndex.build(spark,
      survivors.select(col("doc_id"), col("text")), s"$fresh/minhash")
    val probeMaintained = MinhashIndex.dedupAgainst(spark,
      docs.where(col("lang") === victimLang && col("doc_id") % 2 === 1),
      s"$dir/minhash").collect().map(_.toSeq).toSet
    val probeFresh = MinhashIndex.dedupAgainst(spark,
      docs.where(col("lang") === victimLang && col("doc_id") % 2 === 1),
      s"$fresh/minhash").collect().map(_.toSeq).toSet
    assert(probeMaintained == probeFresh)
  }

  test("one forget call also scrubs the vector and model stores") {
    val dir = Files.createTempDirectory("graft-forget-full").toString
    val docs = publishAll(dir)
    PqIndex.build(spark, SF, s"$dir/pq")
    SqIndex.build(spark, SF, s"$dir/sq")
    LangProfileStore.buildFrom(spark, docs, s"$dir/lang")
    DsirStore.buildFrom(spark, docs, s"$dir/dsir")
    // snapshot the full-corpus-trained vector models BEFORE the forget
    def rel(p: String) =
      spark.read.parquet(s"$dir/$p").collect().map(_.toSeq).toSet
    val fullCodebook = rel("pq/codebook")
    val fullCentroids = rel("pq/centroids")
    val fullCodes = rel("pq/codes")
    val fullCells = rel("pq/cells")
    val fullRecon = rel("sq/recon")
    // the composed call: the model stores' subtraction needs victim
    // text fetched BEFORE the corpus rewrite — exercised for real here
    // because the corpus is deleted first inside forget()
    Forget.forget(spark,
      docs.where(col("doc_id") % 2 === 1).select(col("doc_id")),
      s"$dir/corpus", Store.under(dir, Seq(PostingsIndex, MinhashIndex,
        PqIndex, SqIndex, LangProfileStore, DsirStore)))
    // vector stores: model FROZEN (codebook/centroids untouched),
    // corpus relations = the full build minus the victims' rows
    assert(rel("pq/codebook") == fullCodebook)
    assert(rel("pq/centroids") == fullCentroids)
    def evenVec(rows: Set[Seq[Any]]) =
      rows.filter(_.head.asInstanceOf[Long] % 2 == 0)
    assert(rel("pq/codes") == evenVec(fullCodes))
    assert(rel("pq/cells") == evenVec(fullCells))
    assert(rel("sq/recon") == evenVec(fullRecon))
    // model stores: count subtraction left the evens-trained model,
    // bit-identical to training on the survivors from scratch
    val fresh = Files.createTempDirectory("graft-forget-full-fresh").toString
    val evens = docs.where(col("doc_id") % 2 === 0)
    LangProfileStore.buildFrom(spark, evens, s"$fresh/lang")
    DsirStore.buildFrom(spark, evens, s"$fresh/dsir")
    assert(rel("lang/counts") ==
      spark.read.parquet(s"$fresh/lang/counts")
        .collect().map(_.toSeq).toSet)
    assert(rel("lang/profiles") ==
      spark.read.parquet(s"$fresh/lang/profiles")
        .collect().map(_.toSeq).toSet)
    assert(rel("dsir/stats") ==
      spark.read.parquet(s"$fresh/dsir/stats")
        .collect().map(_.toSeq).toSet)
  }

  test("forget over an ingest-published corpus resolves clean_text and escaped partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-forget-clean").toString
    // the ingest job publishes survivors with clean_text (no raw text
    // column) and a lang value Spark must escape in the directory name
    val docs = Seq(
      (1L, "pt:BR", "um pequeno documento com algum texto dentro"),
      (2L, "pt:BR", "outro documento pequeno com texto bem diferente"),
      (3L, "en", "a small english document with some text inside"))
      .toDF("doc_id", "lang", "clean_text")
    CorpusSink.appendCurated(docs, s"$dir/corpus")
    val labeled = docs.select(col("doc_id"), col("lang"),
      col("clean_text").as("text"))
    PostingsIndex.buildFrom(spark,
      labeled.select(col("doc_id"), col("text")), s"$dir/postings")
    MinhashIndex.build(spark,
      labeled.select(col("doc_id"), col("text")), s"$dir/minhash")
    LangProfileStore.buildFrom(spark, labeled, s"$dir/lang")
    DsirStore.buildFrom(spark, labeled, s"$dir/dsir")
    // the composed call over the ingest-shaped corpus: the model-store
    // subtraction must pick up clean_text, and the corpus rewrite must
    // hit the on-disk lang=pt%3ABR directory
    Forget.forget(spark, Seq(1L).toDF("doc_id"),
      s"$dir/corpus", Store.under(dir, Seq(PostingsIndex, MinhashIndex,
        LangProfileStore, DsirStore)))
    val after = spark.read.parquet(s"$dir/corpus")
    assert(after.count() == 2L)
    assert(after.select("doc_id").as[Long].collect().toSet ==
      Set(2L, 3L))
    // model stores == survivors-trained from scratch (the subtraction
    // used the same clean text the stores trained on)
    val fresh =
      Files.createTempDirectory("graft-forget-clean-fresh").toString
    val survivors = labeled.where(col("doc_id") =!= 1L)
    LangProfileStore.buildFrom(spark, survivors, s"$fresh/lang")
    DsirStore.buildFrom(spark, survivors, s"$fresh/dsir")
    def rel(p: String) =
      spark.read.parquet(p).collect().map(_.toSeq).toSet
    for (r <- Seq("lang/counts", "lang/profiles", "dsir/stats")) {
      assert(rel(s"$dir/$r") == rel(s"$fresh/$r"), r)
    }
  }
}
