package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession with a throwaway warehouse for framework
  * tests, built by the session factory every main uses: 4 cores, so 4
  * shuffle partitions, and graft's extensions installed.
  */
object SparkTestBase {
  lazy val spark: SparkSession = graft.runner.Cli.buildSpark("graft-test",
    "spark.master" -> "local[4]",
    "spark.sql.warehouse.dir" -> graft.core.TempDirs.create("graft-warehouse").toString)
}
