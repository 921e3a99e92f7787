package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.{CorpusSink, DsirStore, Forget, LangProfileStore,
  MinhashIndex, PositionsIndex, PostingsIndex, Store}

/** Property checks of the persistent-store LIFECYCLE invariants beyond
  * the suites' fixed even/odd splits: for RANDOM corpora and RANDOM
  * batch partitions, every store of the [[Store.all]] registry keeps
  * the four lifecycle laws (so a new registry entry cannot skip one),
  * any decomposition build(p0)+append(p1)+... yields the store
  * CONTENTS of a one-shot build, and removing a random subset leaves
  * exactly a build over the survivors — the additive-merge /
  * exact-inverse claims as algebraic laws, not fixture facts.
  * ScalaCheck generators driven with deterministic seeds (the
  * scalatest-scalacheck bridge isn't on the offline classpath); case
  * counts kept small — each case is several Spark jobs. */
class StoreLifecyclePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen(Gen.Parameters.default, Seed(77L + i)))

  private val textGen: Gen[String] = for {
    w <- Gen.chooseNum(3, 9)
    ws <- Gen.listOfN(w, Gen.oneOf("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta"))
  } yield ws.mkString(" ")

  // small random corpora: 6-14 docs, 3-9 words each, tiny vocabulary
  // so shingles/tokens collide across docs (the interesting case)
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.chooseNum(6, 14)
    texts <- Gen.listOfN(n, textGen)
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private val splitGen: Gen[(Seq[(Long, String)], Seq[Int])] = for {
    c <- corpusGen
    parts <- Gen.listOfN(c.length, Gen.chooseNum(0, 2))
  } yield (c, parts)

  /** Relation contents as a multiset (a replayed append that duplicated
    * rows must not hide behind set equality). */
  private def rels(dir: String, names: Seq[String]) = names.map { r =>
    r -> spark.read.parquet(s"$dir/$r").collect().map(_.toString)
      .sorted.toSeq
  }.toMap

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("every registry store keeps the four lifecycle laws on random batches") {
    // random published batches: LABELED text (two languages) plus a
    // random 64-dim embedding per document, so every store kind absorbs
    // the same batches; docs 0-1 land in p0, doc 2 in p1 and doc 3 in
    // p2, so no part is empty (a PQ codebook trains on p0)
    val publishedGen = for {
      c <- corpusGen
      langs <- Gen.listOfN(c.length, Gen.oneOf("aa", "bb"))
      embs <- Gen.listOfN(c.length,
        Gen.listOfN(64, Gen.choose(-1.0f, 1.0f)))
      rest <- Gen.listOfN(c.length - 4, Gen.chooseNum(0, 2))
    } yield (c.zip(langs).zip(embs)
        .map { case (((id, t), l), e) => (id, l, t, e) },
      Seq(0, 0, 1, 2) ++ rest)
    for (((corpus, parts), k) <- cases(publishedGen, 3).zipWithIndex) {
      val published = corpus.toDF("doc_id", "lang", "clean_text",
        "embedding")
      def ids(ps: Int*) = corpus.zip(parts)
        .collect { case ((id, _, _, _), p) if ps.contains(p) => id }
      for (store <- Store.all) {
        def part(ps: Int*) = store.input.absorb(
          published.where(col("doc_id").isin(ids(ps: _*): _*))).get
        def keysOf(batch: DataFrame) = store.input match {
          case Store.Text => batch.select(col("doc_id"))
          case Store.Vectors => batch.select(col("vec_id"))
          case Store.Labeled => batch
        }
        val rs = store.relations
        val clue = s"${store.name} case $k parts=$parts"
        val dir = tmp(s"prop-law-${store.name}$k")
        store.buildFrom(spark, part(0), dir)
        store.appendBatch(spark, part(1), dir, "1")
        val s1 = rels(dir, rs)
        store.appendBatch(spark, part(2), dir, "2")
        val s2 = rels(dir, rs)
        // a same-tag append replay is a no-op
        store.appendBatch(spark, part(2), dir, "2")
        assert(rels(dir, rs) == s2, s"replay: $clue")
        // appends associate: (S ⊕ B1) ⊕ B2 ≡ S ⊕ (B1 ∪ B2)
        val whole = tmp(s"prop-law-${store.name}-whole$k")
        store.buildFrom(spark, part(0), whole)
        store.appendBatch(spark, part(1, 2), whole, "1")
        assert(rels(whole, rs) == s2, s"associativity: $clue")
        // compact leaves the contents unchanged
        store.compact(spark, dir)
        assert(rels(dir, rs) == s2, s"compact: $clue")
        // removal is the exact inverse: remove(append(S, B), B) ≡ S
        store.removeBatch(spark, keysOf(part(2)), dir)
        assert(rels(dir, rs) == s1, s"inverse: $clue")
      }
    }
  }

  test("postings/minhash/positions: random 3-way decompositions == one-shot build") {
    for (((corpus, parts), k) <- cases(splitGen, 3).zipWithIndex;
         store <- Seq(PostingsIndex, PositionsIndex, MinhashIndex)) {
      val df = corpus.toDF("doc_id", "text")
      val batches = (0 to 2).map { p =>
        corpus.zip(parts).collect { case (d, q) if q == p => d }
          .toDF("doc_id", "text")
      }
      val one = tmp(s"prop-${store.name}-one$k")
      val inc = tmp(s"prop-${store.name}-inc$k")
      store.buildFrom(spark, df, one)
      store.buildFrom(spark, batches(0), inc)
      store.appendBatch(spark, batches(1), inc)
      store.appendBatch(spark, batches(2), inc)
      assert(rels(inc, store.relations) == rels(one, store.relations),
        s"${store.name} case $k")
    }
  }

  test("postings: removing a random subset == build over the survivors") {
    for (((corpus, parts), k) <- cases(splitGen, 3).zipWithIndex) {
      val victims = corpus.zip(parts).collect { case (d, 0) => d }
      val survivors = corpus.zip(parts).collect { case (d, q) if q != 0 => d }
      val full = tmp(s"prop-rm-full$k")
      val want = tmp(s"prop-rm-want$k")
      PostingsIndex.buildFrom(spark, corpus.toDF("doc_id", "text"), full)
      PostingsIndex.removeBatch(spark,
        victims.map(_._1).toDF("doc_id"), full)
      PostingsIndex.buildFrom(spark,
        survivors.toDF("doc_id", "text"), want)
      val prels = PostingsIndex.relations
      assert(rels(full, prels) == rels(want, prels),
        s"case $k victims=${victims.map(_._1)}")
    }
  }

  test("composed forget: random victims leave survivors-only surfaces") {
    // random LABELED corpora (two languages) so the corpus partitions,
    // the language profiles and the importance stats all have structure
    val labeledGen: Gen[(Seq[(Long, String, String)], Seq[Boolean])] = for {
      (c, parts) <- splitGen
      langs <- Gen.listOfN(c.length, Gen.oneOf("aa", "bb"))
    } yield (c.zip(langs).map { case ((id, t), l) => (id, l, t) },
      parts.map(_ == 0))
    val stores = Seq(PostingsIndex, MinhashIndex, LangProfileStore,
      DsirStore)
    for (((corpus, victimFlags), k) <- cases(labeledGen, 3).zipWithIndex) {
      // a raw-published corpus carries `text`; the stores absorb it as
      // the published text
      def published(rows: Seq[(Long, String, String)]) =
        rows.toDF("doc_id", "lang", "clean_text")
      val victims = corpus.zip(victimFlags).collect { case (d, true) => d }
      val survivors = corpus.zip(victimFlags)
        .collect { case (d, false) => d }
      val dir = tmp(s"prop-forget$k")
      CorpusSink.appendCurated(corpus.toDF("doc_id", "lang", "text"),
        s"$dir/corpus")
      for ((store, storeDir) <- Store.under(dir, stores))
        store.buildFrom(spark, store.input.absorb(published(corpus)).get,
          storeDir)
      Forget.forget(spark, victims.map(_._1).toDF("doc_id"),
        s"$dir/corpus", Store.under(dir, stores))
      // every surface == built over the survivors from scratch
      val want = tmp(s"prop-forget-want$k")
      for ((store, storeDir) <- Store.under(want, stores)) {
        store.buildFrom(spark,
          store.input.absorb(published(survivors)).get, storeDir)
        store.relations.foreach { r =>
          assert(rels(s"$dir/${store.name}", Seq(r)) ==
            rels(storeDir, Seq(r)),
            s"case $k surface ${store.name}/$r victims=${victims.map(_._1)}")
        }
      }
      val corpusLeft = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet
      assert(corpusLeft == survivors.map(_._1).toSet, s"case $k corpus")
    }
  }
}
