package perfbench

import java.nio.file.{Files, Paths}

/** Records the answers in `inventory_expected.json`:
  * `perfbench.Record --work <dir> --out <dir>` writes the inventory tables
  * under `<work>/inventory-data`, then each query's output as parquet plus
  * `oracle_sql.json` under `<out>` for `tools/oracle_check.py`, and prints
  * each query's (rows, fingerprint) as an `inventory_expected.json` entry. */
object Record {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(m.getOrElse("work", sys.error("--work is required")))
    val out = Paths.get(m.getOrElse("out", sys.error("--out is required")))
    Files.createDirectories(work)
    val spark = Main.session(work)
    try {
      val invDir = work.resolve("inventory-data")
      InvData.write(spark, invDir, Inventory.dataSeed)
      Inventory.dump(spark, invDir, out)
    } finally spark.stop()
  }
}
