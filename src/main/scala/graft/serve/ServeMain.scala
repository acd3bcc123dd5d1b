package graft.serve

import org.apache.spark.sql.SparkSession

import graft.etl.{EntityBuilder, LinkBuilder}

/** Runnable serving entry point: ETL the entity/link exports once, cache the
  * dimension tables, and serve the reference's core API
  * (`flask_app.py:95-252`) over them.
  *
  * Usage: ServeMain <entitiesCsv> [setiCsv] [port] [configJson] [dataDir]
  *
  * `configJson` supplies the reference's startup defaults (default hops for
  * bodies that omit them, `utils/utils.py:9-13`); `dataDir` enables the
  * `/data/<path>` static passthrough (`flask_app.py:585-587`).
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val entitiesCsv = args(0)
    val setiCsv = if (args.length > 1) Some(args(1)) else None
    val port = if (args.length > 2) args(2).toInt else 8080
    val config = if (args.length > 3) Some(AppMeta.loadConfig(args(3))) else None
    val dataDir = if (args.length > 4) Some(args(4)) else None

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[8]"))
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // keep the per-request lines (latency, Spark jobs) above Spark's WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      classOf[HttpShim].getName, org.apache.logging.log4j.Level.INFO)

    val built = EntityBuilder.build(spark, entitiesCsv)
    val entities = built.entities.cache()
    val edges = built.edges.cache()
    val etext = setiCsv.map { csv =>
      JsonOut.nestEtextLinks(LinkBuilder.build(spark, csv).links)
    }.getOrElse(Map.empty)

    val shim = new HttpShim(spark, entities, edges, etext,
      defaultHops = config.map(_.hops).getOrElse(2), dataDir = dataDir)
    val bound = shim.start(port)
    println(s"graft-serve listening on http://127.0.0.1:$bound/api/")
    Thread.currentThread().join() // serve until killed
  }
}
