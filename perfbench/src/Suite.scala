package perfbench

import graft.QueryDef
import graft.operators._

/** The operator objects in `SparkEntry.allQueries` order, and the fixed
  * query subset operator_suite times: one query of each object, each
  * with a DuckDB oracle.
  */
object Suite {

  /** Row-count scale of the generated tables relative to sf0.01. */
  val Scale = 0.5

  val objects: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.all, "TextOps" -> TextOps.all, "Dedup" -> Dedup.all,
    "Similarity" -> Similarity.all, "Multimodal" -> Multimodal.all,
    "DataMovement" -> DataMovement.all, "AsOfJoin" -> AsOfJoin.all,
    "CorpusOps" -> CorpusOps.all, "StressOps" -> StressOps.all,
    "ClusterOps" -> ClusterOps.all, "SketchOps" -> SketchOps.all,
    "LayoutOps" -> LayoutOps.all, "CurationOps" -> CurationOps.all,
    "StreamOps" -> StreamOps.all, "LakeOps" -> LakeOps.all, "ScaleOps" -> ScaleOps.all,
    "WarehouseOps" -> WarehouseOps.all, "DqOps" -> DqOps.all)

  val queries: Seq[String] = Seq(
    "q_window_topn", "q_token_stats", "q_dedup_exact", "q_lsh_buckets",
    "q_mm_decode_stats", "q_multi_statement", "q_asof_join", "q_dataset_card",
    "q_stress_twophase_agg", "q_cross_dedup", "q_approx_distinct",
    "q_zorder_layout", "q_unigram_ce", "q_stream_cdc_latest", "q_cdc_latest",
    "q_consistent_shards", "q4_order_priority", "q_fk_integrity")
}
