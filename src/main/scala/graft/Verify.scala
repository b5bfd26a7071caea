package graft
import java.nio.file.{Files, Paths}
import graft.runner.Cli
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter for local
    // iteration (the driver always passes exactly two args)
    val only = SparkEntry.nameFilter(args.lift(2))
    val spark = Cli.buildSpark("graft-verify")
    new java.io.File(outDir).mkdirs()
    var nOk, nFail, nZero = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // empty-dump tripwire: a query that silently returns zero rows
        // (dead stream source, bad glob, pruned-to-nothing scan) writes a
        // valid parquet file and sails through "0 failed" — the sf1 audit
        // shipped SEVEN empty streaming dumps that way. Reading the dump
        // back is O(result), trivially cheap next to running the query.
        if (spark.read.parquet(s"$outDir/$name").isEmpty) {
          nZero += 1
          System.err.println(s"[verify] ZERO-ROWS $name: dump is empty")
        }
        nOk += 1
      } catch { case e: Throwable =>
        nFail += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      SparkEntry.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // visible tally: a query that throws is otherwise just ABSENT from
    // the driver's correctness JSON (round 6 lost 24 queries to a
    // testdata schema drift with no loud signal anywhere)
    println(s"[verify] dumped $nOk queries, $nFail failed" +
      (if (nZero > 0) s", $nZero ZERO-ROWS (suspicious — see stderr)" else ""))
    spark.stop()
  }
}
