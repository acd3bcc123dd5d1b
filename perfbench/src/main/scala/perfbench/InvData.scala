package perfbench

import java.nio.file.Path
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-ish star schema plus the `events`, `documents` and
  * `embeddings` tables the operator inventory reads, one parquet file each,
  * with the column names and types of the inventory's test tables at about
  * their smallest scale (6,000 lineitem rows, 500 documents, 500 vectors).
  * Documents carry planted near-duplicates and vectors cluster by label, so
  * the similarity and retrieval queries have something to find. */
object InvData {
  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(name: String, t: DataType) = StructField(name, t)
    def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(y0: Int, span: Int) = LocalDateTime.of(y0, 1, 1, 0, 0).plusDays(rnd.nextInt(span))

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = 150; val nSupp = 10; val nPart = 200; val nOrders = 1500
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999, 9999), segments(rnd.nextInt(5)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999, 9999))))
    val adjectives = Seq("small", "red", "blue", "cold", "hot", "old", "new", "big")
    val nouns = Seq("ring", "widget", "rod", "anvil", "plate", "gear", "bolt", "valve")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rnd.nextInt(8))} ${nouns(rnd.nextInt(8))}", s"Brand#${1 + rnd.nextInt(25)}",
        types(rnd.nextInt(6)), 1 + rnd.nextInt(50), 900.0 + (i % 200) / 10.0)))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        Seq("F", "O", "P")(rnd.nextInt(3)), money(1000, 500000), day(1995, 2400),
        priorities(rnd.nextInt(5)))))
    val lines = (0 until 6000).map { _ =>
      val q = (1 + rnd.nextInt(50)).toDouble
      Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong,
        1 + rnd.nextInt(7), q, math.round(q * (900 + rnd.nextInt(1200)) * 100) / 100.0,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)),
        Seq("F", "O")(rnd.nextInt(2)), day(1995, 2500))
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines)

    val eventTypes = Seq("click", "error", "purchase", "signup", "view")
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 1000).map { i =>
        ts = ts.plusNanos((rnd.nextInt(5000000) + 1) * 1000L)
        Row(i.toLong, ts, rnd.nextInt(15).toLong, eventTypes(rnd.nextInt(5)),
          money(0, 330), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // (text, lang, source); a near-duplicate keeps its original's lang and
    // source, the blocking keys of the similarity joins
    val langs = Seq("de", "en", "en", "es", "fr", "zh")
    val docs = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    (0 until 500).foreach { i =>
      docs += (
        if (i > 20 && rnd.nextDouble() < 0.12) {
          val (t, lang, src) = docs(rnd.nextInt(docs.size))
          val ws = t.split(" ")
          (0 until 1 + rnd.nextInt(3)).foreach(_ =>
            ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size)))
          (ws.mkString(" "), lang, src)
        } else (Seq.fill(8 + rnd.nextInt(80))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
          langs(rnd.nextInt(6)), s"src${rnd.nextInt(20)}"))
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      docs.zipWithIndex.map { case ((t, lang, src), i) =>
        Row(i.toLong, t, lang, src, t.length.toLong) }.toSeq)

    val centroids = Vector.fill(10)(Vector.fill(64)(rnd.nextGaussian() * 0.15))
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong, centroids(label).map(c => (c + rnd.nextGaussian() * 0.08).toFloat), label)
      })
  }
}
