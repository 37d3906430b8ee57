package graft

import org.apache.spark.sql.SparkSession

/** Plan audit: prints the physical-plan properties that matter at scale for
  * representative queries. Run: sbt "Test/runMain graft.PlanAudit" */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val served = SparkEntry.queries

    def audit(id: String): Unit = {
      val df = served(id)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val marks = Seq(
        "pushdown" -> p.contains("PushedFilters: ["),
        "prunedSchema" -> p.contains("ReadSchema"),
        "batchedScan" -> p.contains("Batched: true"),
        "codegen" -> p.contains("*("),
        "broadcastHJ" -> p.contains("BroadcastHashJoin"),
        "sortMergeJ" -> p.contains("SortMergeJoin"),
        "nestedLoopJ" -> p.contains("NestedLoop"),
        "partialAgg" -> p.contains("partial"),
        "aqe" -> p.contains("AdaptiveSparkPlan"),
        "topK" -> p.contains("TakeOrderedAndProject"))
      println(s"$id: " + marks.collect { case (k, true) => k }.mkString(", "))
    }

    Seq("FILTER-PRED", "JOIN-INNER-EQUI", "JOIN-RANGE", "JOIN-ASOF",
      "AGG-TPCH-Q1", "SORT-TOPK", "LLM-EMB-PAIRS", "LLM-JACCARD-PAIRS",
      "LLM-MINHASH-LSH", "TEXT-FINGERPRINT", "LLM-ANN-IVF").foreach(audit)

    // detailed look at the two scan-bound shapes
    println("\n--- FILTER-PRED formatted ---")
    served("FILTER-PRED")(spark, dir).explain("formatted")
    spark.stop()
  }
}
