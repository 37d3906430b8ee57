package graft.functions

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** graft_topk_by: bounded-heap exact top-k per group. Must equal the
  * row_number window formulation on any input, under any partitioning —
  * that exactness is what qualifies it for the oracle inventory. */
class TopKByAggSpec extends SparkSpec {

  private def register(): Unit =
    graft.functions.expressions.GraftFunctions.register(spark)

  private def topkVia(df: org.apache.spark.sql.DataFrame, k: Int): Seq[String] = {
    val agg = df.groupBy("g")
      .agg(call_function("graft_topk_by", col("v"), col("item"), lit(k)).as("arr"))
      .select(col("g"), posexplode(col("arr")))
      .select(col("g"), (col("pos") + 1).as("rn"), col("col.ord").as("v"),
        col("col.item").as("item"))
      .orderBy("g", "rn")
    canon(agg.select(col("g"), col("v"), col("item")))
  }

  private def windowVia(df: org.apache.spark.sql.DataFrame, k: Int): Seq[String] = {
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("item"))
    canon(df.select(col("g"), col("v"), col("item"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= k)
      .orderBy("g", "rn")
      .select(col("g"), col("v"), col("item")))
  }

  test("random data: heap top-k == window top-k for several k, any partitioning") {
    register()
    import spark.implicits._
    val rnd = new Random(42)
    val rows = (1 to 4000).map { i =>
      (rnd.nextInt(7), rnd.nextInt(50).toDouble, s"it${rnd.nextInt(500)}#$i")
    }
    for (parts <- Seq(1, 4, 13); k <- Seq(1, 3, 10)) {
      val df = rows.toDF("g", "v", "item").repartition(parts)
      assert(topkVia(df, k) === windowVia(df, k), s"parts=$parts k=$k")
    }
  }

  test("ties break toward the binary-smaller item; groups smaller than k kept whole") {
    register()
    import spark.implicits._
    val df = Seq(
      (1, 5.0, "b"), (1, 5.0, "a"), (1, 5.0, "c"), (1, 4.0, "z"),
      (2, 1.0, "only")).toDF("g", "v", "item").repartition(3)
    assert(topkVia(df, 2) === Seq("1|5.0000|a", "1|5.0000|b", "2|1.0000|only"))
  }

  test("null ord or item rows are skipped") {
    register()
    import spark.implicits._
    val df = Seq(
      (1, Some(3.0), Some("x")), (1, None, Some("dead")),
      (1, Some(9.0), None), (1, Some(2.0), Some("y")))
      .toDF("g", "v", "item").repartition(2)
    assert(topkVia(df, 5) === Seq("1|3.0000|x", "1|2.0000|y"))
  }

  test("signed zeros: -0.0 ties with 0.0 and the tie-break decides, like SQL ordering") {
    register()
    import spark.implicits._
    val df = Seq((1, 0.0, "z"), (1, -0.0, "a")).toDF("g", "v", "item").repartition(2)
    // SQL ORDER BY treats -0.0 = 0.0, so 'a' wins the k=1 slot on the tie-break
    assert(topkVia(df, 1) === windowVia(df, 1))
    assert(topkVia(df, 1).head.endsWith("|a"))
  }

  test("bad input types fail at analysis, not mid-job") {
    register()
    import spark.implicits._
    val df = Seq(("x", 1.0)).toDF("s", "v")
    val err = intercept[Exception] {
      df.groupBy().agg(call_function("graft_topk_by", col("s"), col("s"), lit(1))).collect()
    }
    assert(err.getMessage.contains("graft_topk_by") ||
      err.getMessage.toLowerCase.contains("data type mismatch"), err.getMessage)
  }

  test("AGG-GROUP-TOPK plan: partial ObjectHashAggregate, no Window, no per-group sort of base data") {
    tables()
    register()
    val df = graft.SparkEntry.queries("AGG-GROUP-TOPK")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected an aggregate-based plan:\n$plan")
    assert(!plan.contains("Window"), s"top-k must not fall back to a window sort:\n$plan")
  }
}
