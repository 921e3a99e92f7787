package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-fixture synthesizer: builds an ~N× corpus from an sf directory
  * by unioning N re-keyed replicas, for measuring per-query scaling
  * exponents locally (BASELINE.md "observed scaling" section).
  * Usage: `runMain graft.ScaleFixture <srcDir> <outDir> [replicas=10]`.
  *
  * Re-keying rules (what makes the result behave like a genuinely
  * larger corpus rather than a 10×-clone pileup):
  *  - id offsets are multiples of every modulus the queries split on
  *    (doc_id: 97·3 — benchmark stand-in and mime assignment keep their
  *    fractions; TPC-H FK families share one offset so joins stay
  *    consistent; nation/region are fixed dims at every SF, as in
  *    TPC-H itself);
  *  - replica k > 0 document text gets every word prefixed `rk_`, so
  *    replicas have DISJOINT vocabularies: shingle/gram/minhash
  *    operators see new content (a bigger crawl), not 10 copies of the
  *    same documents whose candidate pairs would blow up quadratically
  *    BY CONSTRUCTION and mask what the measurement is after — plan
  *    scaling, not fixture artifacts. n_chars is recomputed to stay
  *    consistent with the new text;
  *  - embeddings replicate under the PRODUCTION ANN scaling model —
  *    corpus grows, query batch stays fixed: replica k > 0 drops the
  *    query-eligible rows (vec_id ≡ 0 mod 50) so the standard query
  *    set stays exactly replica 0's, re-keys by a multiple of 50
  *    (residues preserved), and DECORRELATES each replica by a cyclic
  *    dimension shift of the vector (norm-preserving, deterministic) —
  *    replicated identical vectors would otherwise make every ANN
  *    answer its own clones and every semantic-dedup pair a
  *    constructed artifact. Under this model brute force is linear BY
  *    DEFINITION (Q fixed × 10× corpus); the interesting exponents are
  *    the pruned tiers (IVF/PQ/SQ cell+ADC scans) and the quadratic
  *    risks (semdedup's within-cell pairing). Rounds ≤ 10 copied
  *    embeddings unscaled; their recorded exponents are text/event
  *    queries only, unaffected by this change. */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-scale10x")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("WARN")
    build(spark, src, out, n)
    spark.stop()
  }

  /** doc_id offset unit: divisible by 97 (decontamination benchmark
    * stand-in) and 3 (mime assignment), far above any sf0.1 id. */
  private val DocOff = 291L * 1000 * 1000
  private val OrderOff = 10L * 1000 * 1000 * 1000
  private val PartyOff = 100L * 1000 * 1000 // cust/supp/part keys
  private val EventOff = 1000L * 1000 * 1000
  /** vec_id offset: multiple of 50 (standard query-set modulus), far
    * above any sf0.1 vec_id. */
  private[graft] val VecOff = 1000L * 1000

  def build(spark: SparkSession, src: String, out: String,
      n: Int): Unit = {
    def t(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(k => f(df, k)).reduce(_ unionAll _)
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // guard FIRST — before any table writes: the embedding
    // shift/flip composition below is injective over exactly 2·dim
    // replicas; past that, replica k and k − 2·dim would be exact
    // clones and every ANN/semdedup answer a fixture artifact
    val dim = t("embeddings")
      .select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    require(n <= 2 * dim,
      s"embedding decorrelation supports at most ${2 * dim} replicas " +
        s"(shift × sign-flip period); got $n")

    w(rep(t("documents")) { (d, k) =>
      val txt =
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1")
      d.select((col("doc_id") + lit(k * DocOff)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }, "documents")

    w(rep(RelOpsEventsRaw(spark, src)) { (d, k) =>
      d.select((col("event_id") + lit(k * EventOff)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * EventOff)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    w(rep(t("orders")) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * OrderOff))
        .withColumn("o_custkey", col("o_custkey") + lit(k * PartyOff))
    }, "orders")
    w(rep(t("lineitem")) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * OrderOff))
        .withColumn("l_partkey", col("l_partkey") + lit(k * PartyOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * PartyOff))
    }, "lineitem")
    w(rep(t("customer")) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * PartyOff))
    }, "customer")
    w(rep(t("supplier")) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * PartyOff))
    }, "supplier")
    w(rep(t("part")) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * PartyOff))
    }, "part")

    // fixed dims
    w(t("nation"), "nation")
    w(t("region"), "region")

    // embeddings: corpus replicates, the query set does NOT (see the
    // scaladoc re-keying rules); dim-cycled replicas stay decorrelated
    w(rep(t("embeddings")) { (d, k) =>
      if (k == 0) d
      else d.where(col("vec_id") % 50 =!= 0)
        .select((col("vec_id") + lit(k * VecOff)).as("vec_id"),
          decorrelated(col("embedding"), k, dim).as("embedding"),
          col("label"))
    }, "embeddings")
  }

  /** Replica `k`'s decorrelation of an embedding column: a cyclic
    * dimension shift (period `dim`) composed with a per-period sign
    * flip — without the flip, replicas k and k + dim receive the
    * identical shift and are distance-0 clones of each other once
    * n > dim. Both halves are norm-preserving, and the composition is
    * injective over k ∈ [1, 2·dim) (pinned pairwise in
    * ScaleFixtureSpec); [[build]] asserts that bound. */
  private[graft] def decorrelated(embedding: Column, k: Int,
      dim: Int): Column = {
    val s = k % dim
    val flip = (k / dim) % 2 == 1
    val shifted =
      if (s == 0) embedding
      else concat(slice(embedding, s + 1, dim - s),
        slice(embedding, 1, s))
    if (flip) transform(shifted, x => -x) else shifted
  }

  /** The raw events frame with ts in its PHYSICAL form (no nanos
    * normalization — the fixture must round-trip the source encoding so
    * the normalized loader treats both dirs identically). */
  private def RelOpsEventsRaw(spark: SparkSession,
      src: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(key).forall(_ != "true"))
      spark.conf.set(key, "true")
    spark.read.parquet(s"$src/events.parquet")
  }
}
