package graft.dsl

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, SparkSpec}
import graft.queries.Inventory

/** A DataFrame-DSL entry exists only where its plan differs from its SQL
  * (SparkEntry serves the SQL otherwise), and every entry is hash-equal to
  * the SQL the survey validated cross-engine. */
class DslParitySpec extends SparkSpec {

  private def optimized(df: DataFrame) = df.queryExecution.optimizedPlan

  test("every DSL entry is an inventory ID whose plan differs from its SQL") {
    tables()
    val unknown = Relational.impls.keySet -- Inventory.all.map(_.id)
    assert(unknown.isEmpty, s"DSL entries without an inventory query: $unknown")
    val twins = Relational.impls.keys.toSeq.sorted.filter { id =>
      optimized(Relational(id, spark))
        .sameResult(optimized(spark.sql(Inventory.byId(id).sparkSql)))
    }
    assert(twins.isEmpty,
      s"DSL entries whose optimized plan is their SQL's (delete them): ${twins.mkString(" ")}")
  }

  // IDs without a DSL entry check that the served plan is the SQL's.
  Inventory.all.foreach { q =>
    test(s"${q.id}: DSL == SQL") {
      tables()
      val sql = spark.sql(q.sparkSql)
      Relational.impls.get(q.id) match {
        case Some(dsl) =>
          assert(canon(dsl(spark)) === canon(sql), s"${q.id} DSL diverges from SQL twin")
        case None =>
          assert(optimized(SparkEntry.queries(q.id)(spark, sfDir)).sameResult(optimized(sql)),
            s"${q.id} is not served by its SQL")
      }
    }
  }
}
