package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** The `query` and `llm` workloads: the listed `SparkEntry.queries`, each
  * built and collected in a fixed order. One untimed pass over the small
  * warm-up fixtures loads classes, JIT-compiles and fills codegen caches;
  * then `passes` timed passes run over the measured fixtures. The last
  * pass's rows go to parquet for the oracle check in `run.py`. */
object Queries {
  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report,
          counters: Option[SparkCounters]): Unit = {
    val entries = graft.SparkEntry.queries
    val fns = cfg.ids.map(id => id -> entries(id))

    fns.foreach { case (_, fn) => fn(spark, cfg.warmFixtures).collect() }

    report.timingStarts()
    val registerOp = trace.newOp()
    trace.span("core.tables_register", registerOp) {
      graft.core.Tables.register(spark, cfg.fixtures)
    }
    counters.foreach { c => org.apache.spark.ListenerBusDrain(spark.sparkContext); c.reset() }

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var lastRows = Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    for (_ <- 1 to cfg.passes) {
      val passStart = System.nanoTime()
      val rows = fns.map { case (id, fn) =>
        val op = trace.newOp()
        val t0 = System.nanoTime()
        report.attempted += 1
        val df = trace.span("queries.build", op)(fn(spark, cfg.fixtures))
        if (trace.enabled) trace.span("plans.plan", op)(df.queryExecution.executedPlan)
        val collected = trace.span("exec.collect", op)(df.collect())
        queryMs.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        id -> (collected, df.schema)
      }
      passTimes += (System.nanoTime() - passStart) / 1e9
      lastRows = rows.toMap
    }
    counters.foreach(_ => org.apache.spark.ListenerBusDrain(spark.sparkContext))

    report.endToEnd("pass_s") = Stats.median(passTimes.toSeq)
    report.endToEnd("op_p50_ms") = Stats.median(queryMs.values.flatten.toSeq)

    val results = cfg.tmp.resolve("results")
    lastRows.foreach { case (id, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(results.resolve(id).toString)
    }

    if (trace.enabled) {
      val passes = passTimes.size.toDouble
      report.layers("core.tables_register_ms") = trace.totalMs("core.tables_register")
      report.layers("queries.build_ms") = trace.totalMs("queries.build") / passes
      report.layers("plans.plan_ms") = trace.totalMs("plans.plan") / passes
      report.layers("exec.collect_ms") = trace.totalMs("exec.collect") / passes
      counters.foreach(c => report.layers ++= c.metrics(passTimes.size))
      queryMs.foreach { case (id, ms) => report.layers(s"query.${id}_ms") = Stats.median(ms.toSeq) }
    }
  }
}
