package graft

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import graft.graph.Analytics
import graft.serve.Png

/** PNG histogram render (SURVEY §2 S10): a real raster from a real
  * component labeling (the synthetic export's, and the reference export's
  * where its checkout is present), decoded and structurally checked. */
class PngSpec extends SparkTestBase {

  test("complete component histogram renders a decodable, bar-bearing PNG") {
    Fixtures.onEachExport { built =>
      val vertices = built.entities.select(org.apache.spark.sql.functions.col("id"))
      val cc = Analytics.connectedComponents(vertices, built.edges)
      val bytes = Png.completeComponentHistogram(cc)

      // PNG magic
      assert(bytes.take(8).map(_ & 0xff).toSeq ===
        Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img.getWidth === 1200 && img.getHeight === 640)

      // bars present: matplotlib-C0 pixels somewhere in the plot area
      val c0 = new java.awt.Color(31, 119, 180).getRGB
      var barPixels = 0
      for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
        if (img.getRGB(x, y) == c0) barPixels += 1
      assert(barPixels > 100, s"expected bar pixels, got $barPixels")

      // deterministic: same labeling renders byte-identical
      assert(java.util.Arrays.equals(bytes, Png.completeComponentHistogram(cc)))
    }
  }

  test("bar chart scales heights to counts") {
    val bytes = Png.barChart(Seq((1L, 10L), (2L, 5L), (3L, 1L)),
      Seq("t"), "x", "y", width = 400, height = 300)
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val c0 = new java.awt.Color(31, 119, 180).getRGB
    // column heights of the three bars, measured from the raster
    def barHeight(xFrac: Double): Int = {
      val x = (70 + (400 - 90) * xFrac).toInt
      (0 until img.getHeight).count(y => img.getRGB(x, y) == c0)
    }
    val h1 = barHeight(1.0 / 6); val h2 = barHeight(3.0 / 6); val h3 = barHeight(5.0 / 6)
    assert(h1 > h2 && h2 > h3, s"heights not monotone: $h1 $h2 $h3")
    assert(math.abs(h1 - 2 * h2) <= 2, s"10:5 ratio violated: $h1 vs $h2")
  }
}
