package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (suites share
  * the JVM under `Test / fork := true`).
  */
object TestSparkSession {
  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("graft-warehouse").toString
    val gw = Files.createTempDirectory("graft-catalog-wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", gw)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
