package graft

import scala.io.Source

import org.apache.spark.sql.functions._

import graft.expr.Iast

/** IAST collation parity: golden keys generated by the reference's
  * `custom_sort_key` (utils/utils.py:84-103), incl. its no-skip digraph quirk.
  */
class IastSpec extends SparkTestBase {

  lazy val golden: Map[String, Seq[Int]] = {
    val txt = Source.fromInputStream(
      getClass.getResource("/golden/iast_keys.json").openStream(), "UTF-8").mkString
    "\"((?:[^\"\\\\]|\\\\.)*)\": \\[([0-9, ]*)\\]".r.findAllMatchIn(txt).map { m =>
      m.group(1) -> m.group(2).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    }.toMap
  }

  test("sortKey matches reference custom_sort_key on golden fixtures") {
    assert(golden.nonEmpty)
    golden.foreach { case (w, expected) =>
      assert(Iast.sortKey(w).toSeq === expected, s"key mismatch for '$w'")
    }
  }

  test("digraph quirk: every char index contributes (kha -> [kh, h, a])") {
    assert(Iast.sortKey("kha").toSeq === Seq(15, 46, 0))
  }

  test("catalyst expression equals Scala function on entity names") {
    import spark.implicits._
    val words = golden.keys.toSeq.filter(_.nonEmpty)
    val df = words.toDF("w")
      .select(col("w"), Iast.iastKey(col("w")).as("k"))
    df.collect().foreach { r =>
      val w = r.getString(0)
      assert(r.getSeq[Int](1) === Iast.sortKey(w).toSeq, s"expr mismatch for '$w'")
    }
  }

  test("property: key length == string length; ranks within bounds") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz āīūṛṝḷḹṅñṭḍṇśṣṃḥ0123456789"
    (1 to 500).foreach { _ =>
      val s = (1 to rnd.nextInt(20)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val k = Iast.sortKey(s)
      assert(k.length === s.length)
      assert(k.forall(x => x >= 0 && x <= Iast.alphabet.length))
    }
  }
}
