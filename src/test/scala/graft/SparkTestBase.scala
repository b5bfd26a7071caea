package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession with a throwaway warehouse for framework tests. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val wh = graft.core.TempDirs.create("graft-warehouse")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh.toString)
      // exercises the extension-installer path: vector functions must
      // resolve in every suite without manual registration
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
