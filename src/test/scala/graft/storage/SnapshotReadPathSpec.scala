package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.storage.dsv2.SnapshotScan

/** One read path: every library read plans the connector's
  * `graft-snapshot` batch scan, so delete vectors, equality deletes and
  * column mapping are resolved by one set of readers. The assertions
  * inspect physical plans only; no read below runs a job. */
final class SnapshotReadPathSpec extends SparkSpec {
  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }

  test("library read, readVersion and changeFeed plan the graft-snapshot scan: no parquet FileScan, no LeftAnti join") {
    val root = Files.createTempDirectory("readpath").toString + "/t"
    SnapshotTable.create(spark, root,
      spark.range(0, 40, 1, 2).select(col("id").as("k"),
        (col("id") % 5).as("v")),
      statsCols = Seq("k"))
    val tbl = "readpath_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
      s"OPTIONS (path '$root', deleteMode 'merge-on-read')")
    try {
      // a merge-on-read delete: the head carries deletion vectors
      spark.sql(s"DELETE FROM $tbl WHERE k IN (3, 33)")
      val head = SnapshotTable.latest(spark, root).get
      assert(head.entries.exists(_.dv.nonEmpty))
      Seq("read" -> SnapshotTable.read(spark, root),
          "readVersion" -> SnapshotTable.readVersion(spark, root, head.version),
          "changeFeed" -> SnapshotTable.changeFeed(spark, root, 0L)
        ).foreach { case (name, df) =>
        val plan = df.queryExecution.sparkPlan
        val ss = scans(df)
        assert(ss.nonEmpty &&
          ss.forall(_.scan.description().startsWith("graft-snapshot")),
          s"$name must plan the graft-snapshot batch scan:\n$plan")
        assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty,
          s"$name planned a parquet FileScan:\n$plan")
        assert(plan.collect {
          case j: BaseJoinExec if j.joinType == LeftAnti => j
        }.isEmpty, s"$name planned a LeftAnti join:\n$plan")
      }
      // readPruned is the same scan, narrowed through the stats sidecar
      val pruned = scans(SnapshotTable.readPruned(spark, root, "k", 0, 10))
        .map(_.scan).collect { case s: SnapshotScan => s }
      assert(pruned.size == 1 &&
        pruned.head.plannedFiles.size < head.files.size,
        s"readPruned must prune files: ${pruned.map(_.description())}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("library writes refuse a STRUCT column before staging any file") {
    val root = Files.createTempDirectory("readpath_struct").toString + "/t"
    def staged(): Int = {
      val d = new java.io.File(root, "data")
      if (d.exists) d.listFiles().length else 0
    }
    def refused(write: => Any): Unit = {
      val e = intercept[UnsupportedOperationException](write)
      assert(e.getMessage.contains("graft-snapshot writer: unsupported column type"),
        e.getMessage)
    }
    val withStruct = spark.range(3).select(col("id").as("k"),
      col("id").as("v"), struct(col("id").as("x")).as("s"))
    refused(SnapshotTable.create(spark, root, withStruct))
    assert(SnapshotTable.versions(spark, root).isEmpty && staged() == 0)
    SnapshotTable.create(spark, root,
      spark.range(3).select(col("id").as("k"), col("id").as("v")))
    val before = staged()
    refused(SnapshotTable.append(spark, root, withStruct, mergeSchema = true))
    refused(SnapshotTable.merge(spark, root, withStruct, Seq("k"), "v",
      mergeSchema = true))
    assert(SnapshotTable.versions(spark, root) === Seq(1L))
    assert(staged() === before, "a refused write staged files")
    assert(SnapshotTable.read(spark, root).count() === 3)
  }
}
