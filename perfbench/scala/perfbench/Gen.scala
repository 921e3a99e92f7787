package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of sf-shaped input tables: the same ten tables, column
  * names and types as the engine's TPC-H-ish fixture directories (region,
  * nation, customer, supplier, part, orders, lineitem, events, documents,
  * embeddings), with the same value domains. Documents draw uniformly from
  * the 30-word corpus vocabulary the sentiment lexicon is tuned for, and
  * about 5% of them are near-duplicates of an earlier document with a
  * trailing " dup" token, as in the fixture corpus.
  *
  * Row counts scale with `sf` like the fixture: 5000 documents, 100k
  * events and 600k lineitems at sf 0.1. The same (sf, seed) always writes
  * the same rows. */
object Gen {

  val Vocab: Array[String] = ("join hash row batch scan customer column " +
    "filter small slow merge order vector line data table agg value key " +
    "stream window spark a group part big sort query fast the").split(' ')

  private val Langs = Array("en", "en", "en", "zh", "de", "es", "fr")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** `n` documents with ids `idBase` until `idBase + n`. */
  def documents(n: Int, seed: Long, idBase: Long = 0L): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Iterator.fill(10 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length)))
          .mkString(" ")
      texts(i) = text
      Doc(idBase + i, text, Langs(r.nextInt(Langs.length)),
        s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  /** Writes every table under `dir/<table>.parquet`. */
  def writeSf(spark: SparkSession, dir: String, sf: Double,
      seed: Long): Unit = {
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rnd(k: Int) = new SplittableRandom(seed * 31 + k)
    def money(r: SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val day = 86400000L
    val d1995 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime

    write("region", StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (s, i) => Row(i, s) })
    write("nation", StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrd = n(150000)
    val segs = Array("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
      "FURNITURE")
    val rc = rnd(1)
    write("customer", StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), money(rc, -999.99, 9999.99),
        segs(rc.nextInt(segs.length)))))
    val rs = rnd(2)
    write("supplier", StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), money(rs, -999.99, 9999.99))))
    val adj = Array("small", "red", "hot", "old", "large", "blue", "cold",
      "new")
    val noun = Array("ring", "widget", "bolt", "plate", "rod", "gear",
      "gizmo", "anvil")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
      "MEDIUM")
    val rp = rnd(3)
    write("part", StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adj(rp.nextInt(adj.length))} ${noun(rp.nextInt(noun.length))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.length)),
        1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val ro = rnd(4)
    write("orders", StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        IndexedSeq("O", "F", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        new java.sql.Timestamp(d1995 + ro.nextInt(2404) * day),
        prios(ro.nextInt(prios.length)))))
    val rl = rnd(5)
    val lines = (0 until nOrd * 4).map { _ =>
      val qty = (1 + rl.nextInt(50)).toDouble
      Row(rl.nextInt(nOrd).toLong, rl.nextInt(nPart).toLong,
        rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7), qty,
        money(rl, 900, 105000), rl.nextInt(11) / 100.0,
        rl.nextInt(9) / 100.0, IndexedSeq("A", "N", "R")(rl.nextInt(3)),
        IndexedSeq("O", "F")(rl.nextInt(2)),
        new java.sql.Timestamp(d1995 + (1 + rl.nextInt(2500)) * day))
    }
    write("lineitem", StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))), lines)

    val nEv = n(100000)
    val nUsers = math.max(10, n(15000))
    val evTypes = Array("click", "signup", "error", "view", "purchase")
    val re = rnd(6)
    val t2024 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val span = 30L * day
    val evTimes = Array.fill(nEv)(t2024 * 1000 + re.nextLong(span * 1000))
      .sorted
    write("events", StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      evTimes.indices.map { i =>
        val ts = new java.sql.Timestamp(evTimes(i) / 1000)
        ts.setNanos(((evTimes(i) % 1000000) * 1000).toInt)
        Row(i.toLong, ts, re.nextInt(nUsers).toLong,
          evTypes(re.nextInt(evTypes.length)),
          math.round(-math.log(1 - re.nextDouble()) * 5000) / 100.0 + 0.01,
          s"""{"k": ${re.nextInt(100)}}""")
      })

    spark.createDataFrame(documents(n(50000), seed * 31 + 7))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val nVec = math.max(500, n(20000))
    val rv = rnd(8)
    write("embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))),
      (0 until nVec).map { i =>
        val v = Array.fill(64)(rv.nextDouble() * 2 - 1)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
      })
  }
}
