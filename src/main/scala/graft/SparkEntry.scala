package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AsOfJoin, ClusterOps, CorpusOps, CurationOps, DataMovement, Dedup, DqOps, LakeOps, LayoutOps, Multimodal, Relational, ScaleOps, Similarity, SketchOps, StreamOps, StressOps, TextOps, WarehouseOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's QueryDef into the driver's
  * queries/oracleSql maps. Each operator object owns both the Spark-first
  * DataFrame implementation and (where SQL-expressible) the DuckDB oracle,
  * keeping the two adjacent so column aliases stay in lock step.
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    Relational.all ++ TextOps.all ++ Dedup.all ++ Similarity.all ++
      Multimodal.all ++ DataMovement.all ++ AsOfJoin.all ++ CorpusOps.all ++
      StressOps.all ++ ClusterOps.all ++ SketchOps.all ++ LayoutOps.all ++
      CurationOps.all ++ StreamOps.all ++ LakeOps.all ++ ScaleOps.all ++
      WarehouseOps.all ++ DqOps.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5RegionRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The optional comma-separated query-name filter that Bench, Verify
    * and Explain take; None keeps every query.
    */
  def nameFilter(arg: Option[String]): Option[Set[String]] =
    arg.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Release what a query left persisted before the next one runs:
    * catalog-cached tables (among them the frames of an LSH index, such as
    * `Dedup.minhashIndex`, that a query returning a lazy plan over the
    * index leaves cached) and RDD-level blocks, which
    * `catalog.clearCache()` misses. The iterative operators (pointer-jump
    * CC, PageRank, label-prop) localCheckpoint each round, and those
    * blocks otherwise sit in the BlockManager until the async
    * ContextCleaner gets to them — ~170 queries of that debt once
    * inflated the dedup family 3-5x in a suite run versus isolated.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}
