package graft.examples

/** Prints formatted physical plans for the headline queries so the
  * shuffle/pushdown/codegen shape can be audited (SURVEY §4).
  * Run: sbt "runMain graft.examples.PlanAudit [queryName ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.MainUtil.localSession(8).appName("graft-plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val which = if (args.nonEmpty) args.toSet
      else Set("q_topk_cosine", "q3_top_orders", "q_knn_batch",
        "q_dedup_minhash_lsh", "q_range_join", "q_multimodal",
        "q17_below_avg", "q_hybrid_rrf", "q_contamination",
        "q_binary_hamming", "q_dup_spans",
        "q9_profit", "q15_top_supplier", "q_upsert", "q_ann_recall",
        "q_collocations", "q_window_suite")
    graft.SparkEntry.queries.filter(kv => which(kv._1)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      println(fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
