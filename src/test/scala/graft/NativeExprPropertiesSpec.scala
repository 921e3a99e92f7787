package graft

import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{CategoryHitsExpr, CharGramHashesExpr, EntityMentionsExpr, FingerprintExpr, GramHashesExpr, GramStatsExpr, Int8QuantExpr, MicroVecExpr, StopHitsExpr, ValenceStatsExpr, VecDotExpr, WordGramsExpr}
import graft.functions.HashFns
import graft.nlp.{Lexicons, NlpFunctions}

/** Property checks pinning every native codegen expression bit-identical
  * to the composed higher-order form it replaced, on RANDOM text — the
  * fixture suites cover hand-picked edges; these sweep generated
  * whitespace runs, casing, unicode and lexicon words. Deterministic
  * ScalaCheck seeds, batched into ONE Spark job per expression and
  * codegen mode: every property runs with generated code (FALLBACK,
  * each expression's `doGenCode` inside whole-stage codegen) and
  * interpreted (NO_CODEGEN, its `eval`, as the ingest job runs). */
class NativeExprPropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Text generator biased toward the interesting alphabet: lexicon and
    * category keywords, capitalized words, unicode, runs of spaces and
    * punctuation. */
  private val word: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(Lexicons.categoryKeywords.flatMap(_._2)),
    2 -> Gen.oneOf(Lexicons.entityTerms),
    2 -> Gen.alphaLowerStr.map(_.take(6)),
    2 -> Gen.alphaStr.map(_.take(6).capitalize),
    1 -> Gen.oneOf("ABc", "A", "ÜberX", "naïve", "漢字", "x9y", "..", "--"),
    1 -> Gen.oneOf("", " ", "  "))
  private val text: Gen[String] =
    Gen.listOf(word).map(_.mkString(" ")).map(_.take(120))

  private def sample(n: Int): Seq[String] =
    (0 until n).flatMap(i => text(Gen.Parameters.default, Seed(i.toLong)))

  /** One test that runs `body` under each codegen factory mode. The
    * optimizer's ConvertToLocalRelation is off meanwhile: it would
    * evaluate projections over the in-memory sample at plan time,
    * interpreted in either mode. */
  private def property(name: String)(body: => Unit): Unit =
    test(name) {
      for (mode <- Seq(CodegenObjectFactoryMode.FALLBACK,
          CodegenObjectFactoryMode.NO_CODEGEN)) withClue(s"[$mode] ") {
        spark.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, mode.toString)
        spark.conf.set(SQLConf.OPTIMIZER_EXCLUDED_RULES.key,
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        try body
        finally {
          spark.conf.unset(SQLConf.CODEGEN_FACTORY_MODE.key)
          spark.conf.unset(SQLConf.OPTIMIZER_EXCLUDED_RULES.key)
        }
      }
    }

  property("CategoryHitsExpr equals composed categoriesArr on random text") {
    val df = sample(200).toDF("t")
      .select(NlpFunctions.tokens(col("t")).as("toks"))
    val diff = df.where(not(
        CategoryHitsExpr.cats(spark, col("toks")).cast("string") ===
        NlpFunctions.categoriesArr(col("toks")).cast("string")))
      .count()
    assert(diff == 0)
  }

  property("EntityMentionsExpr equals composed entityMentions on random text") {
    val df = sample(200).toDF("t")
    val diff = df.where(not(
        EntityMentionsExpr.mentions(spark, col("t")) ===
        NlpFunctions.entityMentions(col("t"), NlpFunctions.tokens(col("t")))))
      .count()
    assert(diff == 0)
  }

  property("GramHashesExpr equals transform(word_grams, hash60) on random text") {
    import graft.functions.HashFns
    val df = sample(200).toDF("t")
    val composed = transform(
      WordGramsExpr.grams(spark, col("t"), 4, distinct = true),
      g => HashFns.hash60(g))
    val diff = df.where(not(
        GramHashesExpr.gramHashes(spark, col("t"), 4, distinct = true)
          === composed))
      .count()
    assert(diff == 0)
    // non-distinct form too (stream twins may use it)
    val composed2 = transform(
      WordGramsExpr.grams(spark, col("t"), 2, distinct = false),
      g => HashFns.hash60(g))
    val diff2 = df.where(not(
        GramHashesExpr.gramHashes(spark, col("t"), 2, distinct = false)
          === composed2))
      .count()
    assert(diff2 == 0)
  }

  property("VecDotExpr equals the composed aggregate(zip_with) on random vectors") {
    val vecs: Seq[(Seq[Long], Seq[Long])] = (0 until 200).map { i =>
      val r = new scala.util.Random(i)
      val n = 1 + r.nextInt(96)
      (Seq.fill(n)(r.nextLong() % 3000000L),
        Seq.fill(n)(r.nextLong() % 3000000L))
    }
    val df = vecs.toDF("a", "b")
    val composed = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val diff = df.where(not(
        VecDotExpr.dot(spark, col("a"), col("b")) === composed))
      .count()
    assert(diff == 0)
    // self-dot (the norm² path) is non-negative and matches too
    val diffN = df.where(not(
        VecDotExpr.dot(spark, col("a"), col("a")) ===
        aggregate(col("a"), lit(0L), (acc, x) => acc + x * x)))
      .count()
    assert(diffN == 0)
  }

  property("VecDotExpr yields NULL on a null element, like the composed form") {
    val df = Seq(
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](null, 5L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)))
      .toDF("a", "b")
    val composed = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val rows = df.select(
        VecDotExpr.dot(spark, col("a"), col("b")).as("d"),
        composed.as("c"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).getLong(0) == 11L && rows(2).getLong(1) == 11L)
  }

  test("word_gram_hashes rejects n < 1 at analysis time") {
    GramHashesExpr.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT word_gram_hashes('a b c', 0, true)").collect()
    }
    assert(e.getMessage.contains("n >= 1"), e.getMessage)
  }

  property("GramStatsExpr equals the WordGramsExpr-derived stats on random text") {
    // the fused stats must equal what the gram arrays say: token count,
    // first-occurrence-distinct tokens, bigram total, and the max
    // per-bigram count (≡ longest equal-run in the sorted bigram array)
    val bg = WordGramsExpr.grams(spark, col("t"), 2, distinct = false)
    val maxRun = aggregate(array_sort(bg),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val df = sample(200).toDF("t")
      .withColumn("gs", GramStatsExpr.gramStats(spark, col("t")))
    val diff = df.where(not(
        col("gs.n_tok") ===
          size(WordGramsExpr.grams(spark, col("t"), 1, distinct = false))
            .cast("long") &&
        col("gs.n_distinct_tok") ===
          size(WordGramsExpr.grams(spark, col("t"), 1, distinct = true))
            .cast("long") &&
        col("gs.bigram_total") === size(bg).cast("long") &&
        col("gs.bigram_max") === maxRun))
      .count()
    assert(diff == 0)
  }

  property("StopHitsExpr equals the composed filter(array_contains) count") {
    val stopArr = typedLit(Lexicons.stopwords)
    // lexicon-biased random text + explicit stopword-heavy rows
    val df = (sample(200) ++ Seq("the and of", "", "xqzzy the THE the"))
      .toDF("t")
      .select(NlpFunctions.tokens(col("t")).as("toks"))
    val diff = df.where(not(
        StopHitsExpr.hits(spark, col("toks")) ===
        size(filter(col("toks"), t => array_contains(stopArr, t)))
          .cast("long")))
      .count()
    assert(diff == 0)
  }

  property("MicroVecExpr equals the composed transform(round) on random floats") {
    val vecs: Seq[Seq[Float]] = (0 until 300).map { i =>
      val r = new scala.util.Random(i)
      Seq.fill(1 + r.nextInt(80))((r.nextFloat() * 2f) - 1f)
    } :+ Seq(0.0000005f, -0.0000005f, 0.9999995f, -0.9999995f, 0f, -0f)
    val df = vecs.toDF("v")
    val composed = transform(col("v"),
      x => round(x.cast("double") * lit(1000000.0)).cast("long"))
    val diff = df.where(not(
        MicroVecExpr.micro(spark, col("v")) === composed))
      .count()
    assert(diff == 0)
  }

  property("FingerprintExpr equals the composed 5-gram min-sketch on random text") {
    val lt = lower(col("t"))
    val grams = when(length(lt) >= 5,
      transform(sequence(lit(1), length(lt) - 4),
        i => lt.substr(i, lit(5))))
      .otherwise(array().cast("array<string>"))
    val hs = array_sort(array_distinct(
      transform(grams, g => HashFns.hash60(g))))
    val df = (sample(200) ++ Seq("", "abcd", "abcde", "aaaaaaaa",
      "ÜBER naïve 漢字漢字漢字")).toDF("t")
      .withColumn("f", FingerprintExpr.fp(spark, col("t")))
    val diff = df.where(not(
        col("f.fp") === md5(array_join(
          transform(slice(hs, 1, 4), x => x.cast("string")), ",")) &&
        col("f.n_grams") === size(hs).cast("long")))
      .count()
    assert(diff == 0)
  }

  property("CharGramCountsExpr equals a naive JVM profile on random text") {
    val texts = sample(200) ++ Seq("", "ab", "abc", "AAAAAA",
      "ÜBER naïve 漢字漢字漢字")
    def jvmHash60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def naive(t: String): Seq[(Long, Long)] = {
      val cps = t.toLowerCase.codePoints().toArray
      val m = cps.length - 2
      if (m <= 0) return Seq.empty
      (0 until m).map(i => jvmHash60(new String(cps, i, 3)))
        .groupBy(identity).map { case (h, o) => (h, o.size.toLong) }
        .toSeq.sortBy { case (h, c) => (-c, h) }
    }
    val got = texts.toDF("t")
      .select(graft.functions.CharGramCountsExpr
        .counts(spark, col("t"), 3).as("gc"))
      .as[Seq[(Long, Long)]].collect().toSeq
    assert(got == texts.map(naive))
  }

  property("Sq8ReconExpr equals the composed reconstruction on random vectors") {
    val vecs: Seq[Seq[Long]] = (0 until 300).map { i =>
      val r = new scala.util.Random(1000 + i)
      Seq.fill(1 + r.nextInt(80))(r.nextLong() % 4000000L)
    } :+ Seq(5L, 5L, 5L) :+ Seq(0L) :+ Seq(-3L, 3L)
    val df = vecs.toDF("v")
    val mn = array_min(col("v"))
    val rng = array_max(col("v")) - array_min(col("v"))
    val composed = transform(col("v"), x =>
      lit(254L) * mn +
        (when(rng > 0,
          round((x - mn).cast("double") * 254.0 / rng.cast("double"))
            .cast("long") - 127L).otherwise(0L) + 127L) * rng)
    val diff = df.where(not(
        graft.functions.Sq8ReconExpr.recon(spark, col("v")) === composed))
      .count()
    assert(diff == 0)
  }

  property("Int8QuantExpr equals the composed quantization on random vectors") {
    val vecs: Seq[Seq[Long]] = (0 until 300).map { i =>
      val r = new scala.util.Random(i + 7)
      Seq.fill(1 + r.nextInt(80))(r.nextLong() % 1000000L)
    } :+ Seq(5L, 5L, 5L) :+ Seq(42L)
    val df = vecs.toDF("em")
    val mn = array_min(col("em"))
    val mx = array_max(col("em"))
    val codes = transform(col("em"), x =>
      when(mx > mn,
        round((x - mn).cast("double") * lit(254.0) /
          (mx - mn).cast("double")).cast("long") - 127L)
        .otherwise(lit(0L)))
    val composed = df
      .withColumn("mn", mn).withColumn("mx", mx)
      .withColumn("codes", codes)
      .withColumn("errnum",
        aggregate(zip_with(col("em"), col("codes"),
          (x, q) => abs((x - col("mn")) * 254L -
            (q + 127L) * (col("mx") - col("mn")))),
          lit(0L), (acc, e) => acc + e))
      .select(col("em"), col("mn"), col("mx"),
        md5(array_join(transform(col("codes"), c => c.cast("string")),
          ",")).as("cfp"),
        round(col("errnum").cast("double") /
          (lit(254.0) * size(col("em")).cast("double"))).cast("long")
          .as("cmae"))
    val diff = composed
      .withColumn("q", Int8QuantExpr.quant(spark, col("em")))
      .where(not(
        col("q.mn_micro") === col("mn") &&
        col("q.mx_micro") === col("mx") &&
        col("q.fp") === col("cfp") &&
        col("q.mae_micro") === col("cmae")))
      .count()
    assert(diff == 0)
  }

  property("LangHitsExpr equals the composed per-profile greatest argmax") {
    import graft.functions.LangHitsExpr
    val scored = Lexicons.langProfiles.sortBy(_._1).zipWithIndex.map {
      case ((l, ws), i) =>
        struct(
          size(filter(col("toks"), t => array_contains(typedLit(ws), t)))
            .cast("long").as("hits"),
          lit(-i).as("nr"),
          lit(l).as("lang_pred"))
    }
    // random text + profile-word-heavy rows exercising ties
    val df = (sample(200) ++ Seq("the der la le", "und und the the",
      "el la los de", "", "xq zz")).toDF("t")
      .select(NlpFunctions.tokens(col("t")).as("toks"))
      .withColumn("g", greatest(scored: _*))
      .withColumn("m", LangHitsExpr.best(spark, col("toks")))
    val diff = df.where(not(
        col("m.hits") === col("g.hits") &&
        col("m.lang_pred") === col("g.lang_pred")))
      .count()
    assert(diff == 0)
  }

  property("WordGramsExpr equals the composed gram pipeline on random text") {
    val composed = {
      val w = filter(split(col("t"), " "), x => x =!= lit(""))
      array_distinct(when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
            element_at(w, i + 2))))
        .otherwise(array().cast("array<string>")))
    }
    val df = sample(200).toDF("t")
    val diff = df.where(not(
        WordGramsExpr.grams(spark, col("t"), 3, distinct = true) ===
        composed))
      .count()
    assert(diff == 0)
  }

  property("ValenceStatsExpr equals the composed aggregate() lexicon sums") {
    val df = (sample(200) ++ Seq("good bad awful", "", "GOOD good"))
      .toDF("t")
      .select(NlpFunctions.tokens(col("t")).as("toks"))
      .withColumn("vs", ValenceStatsExpr.stats(spark, col("toks")))
    val diff = df.where(not(
        col("vs.sv") === NlpFunctions.valenceSum(col("toks")) &&
        col("vs.sav") === NlpFunctions.absValenceSum(col("toks")) &&
        col("vs.n") === NlpFunctions.matchedCount(col("toks"))))
      .count()
    assert(diff == 0)
  }

  property("CharGramHashesExpr equals the composed positional k-gram hashes") {
    val df = (sample(200) ++ Seq("", "ab", "abc", "abcde", "AAAAAA",
      "ÜBER naïve 漢字漢字漢字")).toDF("t")
    val lt = lower(col("t"))
    for (k <- Seq(3, 5)) {
      val composed = when(length(lt) >= k,
        transform(sequence(lit(1), length(lt) - (k - 1)),
          i => HashFns.hash60(lt.substr(i, lit(k)))))
        .otherwise(array().cast("array<bigint>"))
      val diff = df.where(not(
          CharGramHashesExpr.gramHashes(spark, col("t"), k) === composed))
        .count()
      assert(diff == 0, s"k=$k")
    }
  }
}
