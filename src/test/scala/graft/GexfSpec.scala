package graft

import org.apache.spark.sql.functions._

import graft.serve.Gexf

/** GEXF sink (SURVEY S9): well-formed XML, node/edge fidelity, color scheme,
  * escaping — parsed back with the JDK's namespace-aware DOM parser. The
  * full-graph test renders the synthetic export, and the reference export
  * where its checkout is present; the rest build their own tiny graphs. */
class GexfSpec extends SparkTestBase {

  test("full-graph GEXF round-trips through an XML parser") {
    Fixtures.onEachExport { built =>
      val nodes = built.entities.select(col("id"), col("name").as("label"),
        when(col("type") === "work", "red").otherwise("green").as("color"))
      val edges = built.edges
      val xml = Gexf.render(nodes, edges)

      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setNamespaceAware(true)
      val doc = dbf.newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
      val nNodes = doc.getElementsByTagNameNS("*", "node").getLength
      val nEdges = doc.getElementsByTagNameNS("*", "edge").getLength
      assert(nNodes === built.entities.count())
      assert(nEdges === built.edges.count())
      val nColors = doc.getElementsByTagNameNS("*", "color").getLength
      assert(nColors === nNodes, "every node carries a viz color")
    }
  }

  test("layout coordinates emit as viz:position (Gephi opens pre-laid-out)") {
    import spark.implicits._
    val vs = Seq("1", "2", "3").toDF("id")
    val es = Seq(("1", "2"), ("2", "3")).toDF("src", "dst")
    val pos = graft.graph.Layout.fruchtermanReingold(vs, es, iterations = 5)
    val nodes = vs.select(col("id"), col("id").as("label"), lit("green").as("color"))
      .join(pos, Seq("id"))
    val xml = Gexf.render(nodes, es)
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val doc = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    val positions = doc.getElementsByTagNameNS("*", "position")
    assert(positions.getLength === 3, "every node carries a viz position")
    val x0 = positions.item(0).getAttributes.getNamedItem("x").getNodeValue
    assert(x0.toDouble.isFinite)
    // without x/y columns the sink emits no positions (backward compatible)
    assert(!Gexf.render(nodes.drop("x", "y"), es).contains("viz:position"))
  }

  test("relation() agrees field-for-field with the XML render() emits") {
    import spark.implicits._
    val vs = Seq("1", "2", "3").toDF("id")
    val es = Seq(("1", "2"), ("2", "3")).toDF("src", "dst")
    val pos = graft.graph.Layout.fruchtermanReingold(vs, es, iterations = 3)
    val nodes = vs.select(col("id"), concat(lit("n"), col("id")).as("label"),
      when(col("id") === "1", "red").otherwise("green").as("color"))
      .join(pos, Seq("id"))
    val xml = Gexf.render(nodes, es)
    val rel = Gexf.relation(nodes, es).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap

    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val doc = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    val nodeEls = doc.getElementsByTagNameNS("*", "node")
    (0 until nodeEls.getLength).foreach { i =>
      val el = nodeEls.item(i).asInstanceOf[org.w3c.dom.Element]
      val row = rel(("node", el.getAttribute("id")))
      assert(row.getString(0) === "node")
      assert(row.getString(2) === el.getAttribute("label"))
      val color = el.getElementsByTagNameNS("*", "color").item(0)
        .asInstanceOf[org.w3c.dom.Element]
      assert(row.getLong(3) === color.getAttribute("r").toLong)
      assert(row.getLong(4) === color.getAttribute("g").toLong)
      assert(row.getLong(5) === color.getAttribute("b").toLong)
      val p = el.getElementsByTagNameNS("*", "position").item(0)
        .asInstanceOf[org.w3c.dom.Element]
      assert(row.getLong(6) === math.floor(p.getAttribute("x").toDouble * 1e6).toLong)
      assert(row.getLong(7) === math.floor(p.getAttribute("y").toDouble * 1e6).toLong)
    }
    val edgeEls = doc.getElementsByTagNameNS("*", "edge")
    (0 until edgeEls.getLength).foreach { i =>
      val el = edgeEls.item(i).asInstanceOf[org.w3c.dom.Element]
      val row = rel(("edge", el.getAttribute("id")))
      assert(row.getString(0) === "edge")
      assert(row.getString(8) === el.getAttribute("source"))
      assert(row.getString(9) === el.getAttribute("target"))
    }
  }

  test("labels with XML metacharacters are escaped") {
    import spark.implicits._
    val nodes = Seq(("1", """a <&"> z""", "gray"), ("2", null, null))
      .toDF("id", "label", "color")
    val edges = Seq(("1", "2")).toDF("src", "dst")
    val xml = Gexf.render(nodes, edges)
    assert(xml.contains("a &lt;&amp;&quot;&gt; z"))
    assert(xml.contains("""label="Node 2""""), "null label falls back")
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    assert(doc.getElementsByTagName("node").getLength === 2)
  }
}
